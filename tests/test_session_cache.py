"""The session's caches: session.table()'s per-session resolution
cache (round 12) — the metastore-catalog contract: resolve once per
(session, dir, name), REFRESH TABLE analogue for replaced files, zero
semantic drift — and the codegen class cache get_spark() sizes."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from rabbithole_spark.session import CODEGEN_CACHE_MAX_ENTRIES, refresh_tables, table

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_table_resolution_is_cached_per_session(spark):
    """Two resolutions of the same (dir, name) return the SAME
    DataFrame object — the second pays no file listing / footer read
    (the ~120 ms/call round-12 profiling found)."""
    a = table(spark, SF_SMALL, "nation")
    b = table(spark, SF_SMALL, "nation")
    assert a is b
    # distinct dirs and names resolve independently
    assert table(spark, SF_SMALL, "region") is not a


def test_cached_relation_still_plans_fresh(spark):
    """The cache holds METADATA only: downstream plans built on the
    cached relation are independent (a filter on one query cannot
    leak into another)."""
    n1 = table(spark, SF_SMALL, "nation").filter(F.col("n_nationkey") < 5)
    n2 = table(spark, SF_SMALL, "nation")
    assert n1.count() == 5
    assert n2.count() == 25


def test_refresh_tables_sees_replaced_files(spark, tmp_path):
    """REFRESH TABLE analogue: rewriting a table under the same path
    is invisible until refresh_tables(), visible after — the pinned
    file listing is the documented catalog semantics, not a bug."""
    d = str(tmp_path)
    spark.range(3).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    assert table(spark, d, "nation").count() == 3
    spark.range(7).coalesce(1).write.mode("overwrite").parquet(
        f"{d}/nation.parquet"
    )
    refresh_tables(spark, d)
    assert table(spark, d, "nation").count() == 7


def test_refresh_tables_scopes_by_dir(spark, tmp_path):
    """refresh_tables(sf_dir) drops only that dir's entries; the
    registry dir's cached relations survive."""
    d = str(tmp_path)
    spark.range(2).write.mode("overwrite").parquet(f"{d}/events.parquet")
    kept = table(spark, SF_SMALL, "supplier")
    table(spark, d, "events")
    refresh_tables(spark, d)
    cache = spark._rh_table_cache
    assert all(k[0] != d for k in cache)
    assert table(spark, SF_SMALL, "supplier") is kept
    # and a full refresh drops everything
    refresh_tables(spark)
    assert not cache


def _headline_names() -> list[str]:
    """The benchmark's 14 headline query names (perfbench/workloads.py),
    read without importing the benchmark."""
    with open(os.path.join(REPO, "perfbench", "workloads.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "HEADLINE":
            return list(ast.literal_eval(node.value))
    raise AssertionError("HEADLINE not found in perfbench/workloads.py")


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_second_headline_round_reuses_compiled_classes():
    """Two rounds of the headline queries in one seeded order: the
    second compiles at most 10% as many classes as the first (with
    Spark's default 100-entry cache it recompiled 180 of the first
    round's 189). The codegen cache is JVM-wide, and earlier tests in
    this process may already hold these classes, so the rounds run in
    a fresh JVM through the census script, where round 1 is cold."""
    names = _headline_names()
    assert len(names) == 14
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "codegen_census.py"),
         "--json", "--seed", "14", "--cpus", "2", "--sf-dir", SF_SMALL, *names],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["compiled"] >= 100, out  # round 1 really compiled the set
    assert out["recompiled"] <= 0.10 * out["compiled"], out
    assert out["cache_max_entries"] == CODEGEN_CACHE_MAX_ENTRIES
