"""Self-test of the benchmark: each workload runs in a short mode and
prints a well-formed result, and the correctness gate counts a dropped
query row or a dropped message as a failure.

    python3 -m pytest perfbench/test_perfbench.py -q

Slow: every workload run starts its own JVM (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import spool  # noqa: E402
import workloads  # noqa: E402


def _run(cwd: str, workload: str, trace: int, root: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("headline", 0), ("llm_dedup", 1), ("etl_drain", 1), ("etl_paced", 0)],
)
def test_workload_short_run(tmp_path, workload, trace):
    # run from outside the checkout: Python workers must still import
    # the engine (the sharded sink's mapInArrow tasks did not, before
    # the benchmark handed them the package path)
    proc = _run(str(tmp_path), workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = workloads.LAYERS if trace else workloads.E2E
    assert list(result["metrics"]) == list(names)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        # the layer spans cover the measured wall time
        assert 0.9 <= m["trace.attributed_share"] <= 1.05
    else:
        assert m["ok_share"] == 1.0 and m["setup_s"] > 0 and m["latency_p50_s"] > 0
    assert not os.listdir(tmp_path), "the run wrote into its working directory"


def test_gate_counts_dropped_query_row(tmp_path, monkeypatch):
    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.session import get_spark

    monkeypatch.chdir(tmp_path)
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    sf_dir = workloads.QUERY_SF_DIR
    specs = load_all()
    names = ["pricing_summary", "dedup_exact_documents"]
    paths = gate.oracle_results(os.path.join(build, "oracle"), sf_dir, specs, names)
    spark = get_spark(cpus=2)
    try:
        dfs = {n: specs[n].fn(spark, sf_dir) for n in names}
        assert gate.check_queries(dfs, paths) == []
        dfs["dedup_exact_documents"] = dfs["dedup_exact_documents"].exceptAll(
            dfs["dedup_exact_documents"].limit(1)
        )
        assert gate.check_queries(dfs, paths) == ["dedup_exact_documents"]
    finally:
        spark.stop()


def test_gate_counts_dropped_and_stray_messages():
    messages = spool.make_messages(5, 400)
    assert any(m.malformed for m in messages)
    rows = [(m.seq, m.user_id, m.value, m.event_type, 0.0)
            for m in messages if not m.malformed]
    assert gate.check_messages(messages, rows) == 0
    assert gate.check_messages(messages, rows[1:]) == 1  # dropped
    assert gate.check_messages(messages, rows + rows[:1]) == 1  # duplicated
    wrong = [(rows[0][0], rows[0][1] + 1, *rows[0][2:])] + rows[1:]
    assert gate.check_messages(messages, wrong) == 1  # wrong value
    bad = next(m for m in messages if m.malformed)
    stray = (bad.seq, bad.user_id, bad.value, bad.event_type, 0.0)
    assert gate.check_messages(messages, rows + [stray]) == 1  # malformed written


def test_fails_without_the_engine(tmp_path):
    # a directory holding only BENCHMARK.json and the benchmark itself
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "etl_drain", 0, root=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
