"""Count the whole-stage-codegen classes registry queries compile.

Runs the given registry queries (default: all) twice, in one order, in
one :func:`rabbithole_spark.session.get_spark` session, forcing each
with a ``noop`` write, and reads Spark's compilation counter
(``CodegenMetrics.METRIC_COMPILATION_TIME``) around every invocation:

- pass 1: the classes each query compiled, i.e. the distinct classes
  it generated that no earlier query had compiled;
- pass 2: the classes it compiled again: classes the cache evicted
  since pass 1, plus classes whose generated source differs on every
  invocation (no cache size keeps those).

This is the measurement behind ``session.CODEGEN_CACHE_MAX_ENTRIES``:
re-run it after adding queries and resize the constant when pass 1
compiles more than about half of it.

    python scripts/codegen_census.py                       # whole registry
    python scripts/codegen_census.py --seed 7 NAME [NAME ...]
    python scripts/codegen_census.py --json ...            # one JSON line
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: The sf0.01 fixture tables kept with the benchmark.
DEFAULT_SF_DIR = os.path.join(REPO, "perfbench", "data", "sf0.01")


def _metaspace_mb(spark) -> float:
    """JVM metaspace in use, where compiled classes live (the cache's cost)."""
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return round(pool.getUsage().getUsed() / 2**20, 1)
    return float("nan")


def census(spark, sf_dir: str, specs: dict, names: list[str]) -> dict:
    """Per-query compile counts for two passes over ``names``."""
    counter = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_query = {name: [0, 0] for name in names}
    seconds = [0.0, 0.0]
    for p in (0, 1):
        t0 = time.perf_counter()
        for name in names:
            before = counter.getCount()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            per_query[name][p] += counter.getCount() - before
        seconds[p] = time.perf_counter() - t0
    compiled = sum(c[0] for c in per_query.values())
    recompiled = sum(c[1] for c in per_query.values())
    return {
        "cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
        "queries": per_query,
        "compiled": compiled,
        "recompiled": recompiled,
        "recompiled_share": recompiled / compiled if compiled else 0.0,
        "pass_s": [round(s, 2) for s in seconds],
        "metaspace_mb": _metaspace_mb(spark),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry query names (default: all)")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--seed", type=int, help="shuffle the order with this seed")
    ap.add_argument("--cpus", help="local[N] width (default: SPARK_GRAFT_CPUS or all)")
    ap.add_argument("--json", action="store_true", help="print one JSON line")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.session import get_spark

    specs = load_all()
    names = args.names or list(specs)
    if args.seed is not None:
        random.Random(args.seed).shuffle(names)
    spark = get_spark(app_name="codegen-census", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out = census(spark, args.sf_dir, specs, names)
    spark.stop()
    if args.json:
        print(json.dumps(out))
        return 0
    width = max(len(n) for n in names)
    print(f"{'query':<{width}}  pass1_compiled  pass2_recompiled")
    for name, (first, second) in out["queries"].items():
        print(f"{name:<{width}}  {first:>14}  {second:>16}")
    print(
        f"{'TOTAL':<{width}}  {out['compiled']:>14}  {out['recompiled']:>16}"
        f"  ({out['recompiled_share']:.1%} recompiled; cache {out['cache_max_entries']};"
        f" passes {out['pass_s'][0]} s, {out['pass_s'][1]} s;"
        f" metaspace {out['metaspace_mb']} MB)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
