"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see workloads.py) against the engine in the checkout
that holds this directory, checks its outputs, and prints one JSON
object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans, the Spark event log and a streaming progress
listener. The line before it is run context (host steal, canary,
sample counts).

Everything the run writes stays under the build directory
(``$CARGO_TARGET_DIR``, default ``.bench_build``, inside the checkout):
cached oracle results persist there across runs;
each run's spool, sinks, checkpoints, event log and temp files go to a
per-run directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] width (default: the CPUs this process may use)",
    )
    return ap.parse_args(argv)


def _environment(build_dir: str, run_dir: str, cpus: int, eventlog_dir: str | None) -> None:
    """Point every file Spark, its workers and the engine write into the
    run's directories, and hand the package path to the Python workers
    (they do not inherit the driver's ``sys.path``)."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    home = os.path.join(build_dir, "home")  # the engine caches IVF indexes under ~
    for d in (tmp, local, home):
        os.makedirs(d, exist_ok=True)
    os.environ["HOME"] = home
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog_dir is not None:
        from tracing import eventlog_confs

        os.makedirs(eventlog_dir, exist_ok=True)
        confs.update(eventlog_confs(eventlog_dir))
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java = (
        "-XX:-UsePerfData"
        f" -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
    )
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(args) + f" --driver-java-options '{java}' pyspark-shell"
    )


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rabbithole_spark", "__init__.py")):
        print(f"no rabbithole_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    build_dir = os.path.join(
        os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench"
    )
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{os.getpid()}")
    eventlog_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    _environment(build_dir, run_dir, args.cpus, eventlog_dir)
    os.chdir(run_dir)

    import tracing
    import workloads

    steal0 = tracing.cpu_jiffies()[1]
    canary = tracing.cpu_canary()
    ctx = workloads.Ctx(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=args.cpus,
        build_dir=build_dir,
        run_dir=run_dir,
        eventlog_dir=eventlog_dir or "",
        tracer=tracing.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                              enabled=bool(args.trace)),
        steal=tracing.StealClock(),
    )
    try:
        with tracing.RssSampler() as rss, ctx.steal:
            res = workloads.run(ctx)
        if args.trace:
            ctx.tracer.dump(
                os.path.join(build_dir, "traces", f"{ctx.tracer.run_id}.json")
            )
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    res.layers["peak_rss_mb"] = rss.peak_mb
    res.e2e["ok_share"] = 1.0 - res.failed / res.attempted
    steal = tracing.cpu_jiffies()[1] - steal0
    context = {
        "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
        "latency_samples": res.samples, "host.steal_jiffies": steal,
        "host.canary_s": canary, "attempted": res.attempted, "failed": res.failed,
        "peak_rss_mb": rss.peak_mb,
        "peak_mb_by_command": {k: round(v) for k, v in rss.peak_by_command.items()},
        **res.detail,
    }
    if args.trace:
        layers = dict.fromkeys(workloads.LAYERS, 0.0)
        layers.update(res.layers)
        layers.update({f"traced.{k}": v for k, v in res.e2e.items()})
        layers["host.steal_jiffies"] = steal
        layers["host.canary_s"] = canary
        layers["failed_share"] = res.failed / res.attempted
        metrics = {k: layers[k] for k in workloads.LAYERS}
        units = _layer_unit
    else:
        metrics = {k: res.e2e[k] for k in workloads.E2E}
        units = _e2e_unit
    print(json.dumps(context), flush=True)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": float(v), "unit": units(k)} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


def _e2e_unit(name: str) -> str:
    return {"retained_mb": "MB", "ok_share": "share", "ops_per_s": "1/s"}.get(name, "s")


def _layer_unit(name: str) -> str:
    if name.startswith("traced."):
        return _e2e_unit(name[len("traced."):])
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_jiffies", "jiffies")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_share", "_ratio")):
        return "share"
    return "count"


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
