"""The benchmark's workloads. Each drives the engine only through its
public functions and returns a :class:`Result`.

- ``headline`` and ``llm_dedup``: closed loop, one client. Each pass
  runs the workload's queries in a seeded order; every invocation
  rebuilds its DataFrame (``catalog.load_all()[name].fn``) and forces it
  with a ``noop`` write.
- ``etl_drain``: closed loop. A pre-written seeded spool goes through
  the YAML flow (spool -> decode -> mapper -> sharded sqlite sink) with
  ``available_now``, again and again, each drain into a fresh sink.
- ``etl_paced``: open loop. A separate generator process publishes
  spool files on a fixed schedule while the flow (single-connection
  sqlite sink, short trigger) runs. A message's latency is its sqlite
  write time minus its due time.
"""

from __future__ import annotations

import json
import os
import random
import sqlite3
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import gate
import spool
from tracing import StealClock, Tracer, parse_eventlog, progress_listener, retained_mb, sum_owners

#: bench.py's 14 HEADLINE names, fixed here so edits there cannot change
#: this workload.
HEADLINE = (
    "pricing_summary",
    "join_multiway_revenue",
    "tpch_q3_shipping_priority",
    "join_asof_events",
    "window_running_totals",
    "topk_per_group",
    "agg_rollup",
    "dedup_exact_documents",
    "similarity_topk_bruteforce",
    "text_quality_stats",
    "text_chunk_documents",
    "dedup_minhash_lsh",
    "text_bm25_ranking",
    "contamination_ngram_overlap",
)
#: Dedup and similarity families whose query functions run Spark jobs
#: before they return ("eager" build-time jobs).
LLM_DEDUP = (
    "dedup_components",
    "dedup_semantic_semdedup",
    "similarity_kmeans_clusters",
    "dedup_jaccard_prefix_filter",
    "dedup_edit_distance_prefix",
    "similarity_ann_ivf",
)
QUERY_SETS = {"headline": HEADLINE, "llm_dedup": LLM_DEDUP}
WORKLOADS = ("headline", "llm_dedup", "etl_drain", "etl_paced")

#: The query workloads' tables: a copy of the engine's sf0.01 fixture
#: tables, kept with the benchmark so a checkout needs nothing else.
QUERY_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
DRAIN_MESSAGES = 100_000
DRAIN_FILES = 8
PACED_RATE = 2000.0
PACED_TRIGGER_S = 0.5
PACED_WARMUP_S = 10.0
#: A paced message is on time if written within this many seconds.
PACED_LIMIT_S = 1.5
PACED_DRAIN_TIMEOUT_S = 30.0
STAGE_REPS = 3
#: The parts of a micro-batch's ``triggerExecution`` in its progress.
_BATCH_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)

_SINK_DDL = (
    "CREATE TABLE IF NOT EXISTS events_out (seq INTEGER, user_id INTEGER,"
    " value REAL, event_type TEXT, due REAL, written_at REAL DEFAULT"
    " ((julianday('now') - 2440587.5) * 86400.0))"
)
_PARAMS = {k: k for k in ("seq", "user_id", "value", "event_type", "due")}
_INSERT = (
    "INSERT INTO events_out (seq, user_id, value, event_type, due)"
    " VALUES (:seq, :user_id, :value, :event_type, :due)"
)

E2E = (
    "setup_s", "retained_mb", "ok_share", "latency_p50_s", "ops_per_s",
)
LAYERS = (
    "session.get_spark_s", "session.load_tables_s", "catalog.load_all_s",
    "plans.spec.compile_s", "setup.cold_s", "warmup_s", "peak_rss_mb", "latency_p90_s",
    "queries.pass_s", "queries.build_s", "queries.build_jobs", "queries.build_task_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.write_s", "exec.wall_s", "exec.jobs", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.cpu_share",
    "streaming.sources.read_s", "streaming.sinks.decode_s", "plans.mapper.map_s",
    "streaming.batches", "streaming.rows_per_batch", "streaming.trigger_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_ms", "streaming.add_batch_ms",
    "streaming.jobs", "streaming.task_run_s",
    "streaming.sinks.rows_written", "streaming.sinks.rows_dead",
    "streaming.sinks.rows_lost", "streaming.sinks.useful_ratio",
    "etl.pass_s", "etl.on_time_share", "gen.late_p99_ms", "gen.backlog_max_rows",
    "streaming.busy_share", "host.steal_jiffies", "host.canary_s",
    "trace.attributed_share", "failed_share",
) + tuple(f"traced.{m}" for m in E2E)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    build_dir: str  # persists across runs in one checkout
    run_dir: str  # this run's scratch space
    eventlog_dir: str
    tracer: Tracer
    steal: StealClock
    spark: object = None

    def net(self, t0: float, t1: float) -> float:
        """``t1 - t0`` (``time.perf_counter()`` readings) less the wall
        time lost to hypervisor steal in between: every timing in the
        end-to-end metrics is net of steal, so that a busy host does not
        read as a slow engine."""
        return t1 - t0 - self.steal.stolen(t0, t1)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    samples: int = 0  # latency sample count
    passes: int = 0  # timed query passes
    batches: int = 0  # non-empty micro-batches of every streaming query
    detail: dict = field(default_factory=dict)  # printed with the run context


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation, ``q`` in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _latencies(res: Result, values: list[float]) -> None:
    res.samples = len(values)
    res.e2e["latency_p50_s"] = pct(values, 0.5)
    # context only: beyond the 90th percentile of a window's few dozen
    # invocations or micro-batches lie two or three independent samples,
    # too few for a bound
    res.layers["latency_p90_s"] = res.detail["latency_p90_s"] = pct(values, 0.9)
    res.detail["latency_p99_s"] = pct(values, 0.99)


def _setup(ctx: Ctx, res: Result, sf_dir: str | None = None, flow=None):
    """The run's one set-up: start the JVM and session, load the catalog,
    resolve the tables (queries) or compile the flow (ETL). Its time is
    ``setup.cold_s``; the caller adds its untimed warm-up to make
    ``setup_s``. ``flow(spark)`` compiles the run's pipeline; its result
    is returned."""
    from rabbithole_spark.catalog import load_all
    from rabbithole_spark.session import get_spark, load_tables

    t, runners = ctx.tracer, None
    t0 = time.perf_counter()
    with t.span("session.get_spark"):
        ctx.spark = get_spark(app_name=f"perfbench-{ctx.workload}", cpus=ctx.cpus)
    t1 = time.perf_counter()
    with t.span("catalog.load_all"):
        load_all()
    t2 = time.perf_counter()
    if sf_dir is not None:
        with t.span("session.load_tables"):
            load_tables(ctx.spark, sf_dir)
    t3 = time.perf_counter()
    if flow is not None:
        with t.span("plans.spec.compile"):
            runners = flow(ctx.spark)
    t4 = time.perf_counter()
    res.layers.update(
        {
            "session.get_spark_s": t1 - t0,
            "catalog.load_all_s": t2 - t1,
            "session.load_tables_s": t3 - t2,
            "plans.spec.compile_s": t4 - t3,
            "setup.cold_s": t4 - t0,
        }
    )
    res.e2e["setup_s"] = ctx.net(t0, t4)
    log(f"setup {t4 - t0:.2f} s")
    return runners


def _warmed_up(ctx: Ctx, res: Result, w0: float) -> None:
    w1 = time.perf_counter()
    res.layers["warmup_s"] = w1 - w0
    res.e2e["setup_s"] += ctx.net(w0, w1)
    log(f"warm-up {w1 - w0:.1f} s")


def _retained(res: Result, spark) -> None:
    res.e2e["retained_mb"], by_command = retained_mb(spark)
    res.detail["retained_mb_by_command"] = {k: round(v) for k, v in by_command.items()}


# --- query workloads -----------------------------------------------------------


def _job_group(ctx: Ctx, group: str | None) -> None:
    if ctx.trace:
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def run_queries(ctx: Ctx, names: tuple[str, ...]) -> Result:
    from rabbithole_spark.catalog import load_all

    res = Result()
    sf_dir = QUERY_SF_DIR
    _setup(ctx, res, sf_dir=sf_dir)
    spark, t, specs = ctx.spark, ctx.tracer, load_all()
    oracle_paths = gate.oracle_results(
        os.path.join(ctx.build_dir, "oracle"), sf_dir, specs, list(names)
    )

    w0 = time.perf_counter()
    for name in names:  # untimed warm-up: codegen, JIT, worker start
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    _warmed_up(ctx, res, w0)

    rng = random.Random(ctx.seed)
    latencies, passes, last_df = [], [], {}
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        p0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            res.attempted += 1
            a = time.perf_counter()
            try:
                with t.span(f"queries:{name}"):
                    _job_group(ctx, f"{ctx.workload}:{name}:build")
                    df = specs[name].fn(spark, sf_dir)
                if ctx.trace:
                    # plan the query's own QueryExecution to read its
                    # phase tracker; the write below plans once more
                    with t.span(f"catalyst:{name}"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        tracked = qe.tracker().phases()
                        for k in phases:
                            if tracked.contains(k):
                                phases[k] += tracked.apply(k).durationMs()
                with t.span(f"exec:{name}"):
                    _job_group(ctx, f"{ctx.workload}:{name}:exec")
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted as a failed operation
                print(f"{name} failed: {exc!r}", file=sys.stderr)
                res.failed += 1
                continue
            finally:
                _job_group(ctx, None)
            latencies.append(ctx.net(a, time.perf_counter()))
            res.detail.setdefault(name, []).append(round(latencies[-1], 3))
            last_df[name] = df
        passes.append(time.perf_counter() - p0)
    end = time.perf_counter()
    window = end - start
    log(f"timed {len(passes)} passes in {window:.1f} s")
    res.detail["stolen_s"] = ctx.steal.stolen(start, end)
    _retained(res, spark)

    bad = gate.check_queries(last_df, oracle_paths)
    log(f"gate: {len(bad)} mismatches")
    res.attempted += len(names)
    res.failed += len(bad) + len(set(names) - set(last_df))

    _latencies(res, latencies)
    res.e2e["ops_per_s"] = len(latencies) / ctx.net(start, end)
    n = len(passes)
    res.layers.update(
        {
            "queries.pass_s": statistics.median(passes),
            "queries.build_s": t.total("queries:") / n,
            "exec.write_s": t.total("exec:") / n,
            "catalyst.analysis_ms": phases["analysis"] / n,
            "catalyst.optimization_ms": phases["optimization"] / n,
            "catalyst.planning_ms": phases["planning"] / n,
            "trace.attributed_share": (
                t.total("queries:") + t.total("catalyst:") + t.total("exec:")
            ) / sum(passes),
        }
    )
    res.passes = n
    return res


def query_layers_from_eventlog(stats: dict, layers: dict, n: int) -> None:
    """Per-pass build and exec job metrics from the parsed event log."""
    build = sum_owners(stats, lambda o: o.endswith(":build"))
    exe = sum_owners(stats, lambda o: o.endswith(":exec"))
    layers["queries.build_jobs"] = build.get("jobs", 0) / n
    layers["queries.build_task_s"] = build.get("task_run_s", 0.0) / n
    for key in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb"):
        layers[f"exec.{key}"] = exe.get(key, 0) / n
    layers["exec.wall_s"] = exe.get("job_wall_s", 0.0) / n
    run = exe.get("task_run_s", 0.0)
    layers["exec.cpu_share"] = exe.get("task_cpu_s", 0.0) / run if run else 0.0


# --- ETL workloads -------------------------------------------------------------


def _flow(spool_dir: str, db: str, shards: int, time_limit: float):
    """The YAML-shaped spec: spool block -> sql block (``shards`` > 1
    selects the sharded sink), mapped by named parameters."""
    from rabbithole_spark.plans.spec import PipelineSpec

    out = {"query": _INSERT, "parameters": _PARAMS, "setup": _SINK_DDL}
    if shards > 1:
        out["shards"] = shards
    return PipelineSpec.from_dict(
        {
            "size_limit": 500,
            "time_limit": time_limit,
            "blocks": [
                {
                    "name": "in",
                    "type": "spool",
                    "kwargs": {"path": spool_dir, "max_files_per_trigger": 100000},
                },
                {"name": "out", "type": "sql", "kwargs": {"url": f"sqlite:///{db}"}},
            ],
            "flows": [
                [
                    {"name": "in", "kwargs": {"exchange": spool.EXCHANGE}},
                    {"name": "out", "kwargs": out},
                ]
            ],
        }
    )


def _compile(spark, spool_dir: str, sink_dir: str, shards: int, time_limit: float):
    from rabbithole_spark.plans.spec import compile_pipeline

    os.makedirs(sink_dir, exist_ok=True)
    spec = _flow(spool_dir, os.path.join(sink_dir, "out.sqlite"), shards, time_limit)
    return compile_pipeline(spark, spec, os.path.join(sink_dir, "ckpt"))


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _stage_layers(ctx: Ctx, res: Result, spool_dir: str) -> None:
    """Batch twins of the flow's stages over the run's spool, each forced
    with ``noop``: read; read+decode+split; read+decode+split+map. A
    layer's cost is the difference between successive stages."""
    from rabbithole_spark.plans.mapper import ParametersMapper
    from rabbithole_spark.streaming.sinks import dead_letter_split, decode_messages
    from rabbithole_spark.streaming.sources import read_spool_batch

    spark = ctx.spark
    env = read_spool_batch(spark, spool_dir, exchange=spool.EXCHANGE)
    good, dead = dead_letter_split(decode_messages(env))
    mapped = ParametersMapper(_PARAMS).apply(good, payload_col="payload")
    times = [
        statistics.median(_noop(df) for _ in range(STAGE_REPS))
        for df in (env, good, mapped)
    ]
    res.layers["streaming.sources.read_s"] = times[0]
    res.layers["streaming.sinks.decode_s"] = times[1] - times[0]
    res.layers["plans.mapper.map_s"] = times[2] - times[1]
    res.layers["streaming.sinks.rows_dead"] = dead.count()


def _progress_layers(res: Result, progress: list[dict], run_ids: set[str]) -> None:
    """Means over the timed queries' non-empty batches, and the share of
    each batch's wall (``triggerExecution``) its phases account for."""
    res.batches = sum(p["rows"] > 0 for p in progress)
    batches = [p for p in progress if p["run_id"] in run_ids and p["rows"] > 0]
    if not batches:
        return

    def mean(key: str) -> float:
        return statistics.fmean(p.get(key, 0) for p in batches)

    res.layers.update(
        {
            "streaming.batches": len(batches),
            "streaming.rows_per_batch": mean("rows"),
            "streaming.trigger_ms": mean("triggerExecution"),
            "streaming.latest_offset_ms": mean("latestOffset"),
            "streaming.query_planning_ms": mean("queryPlanning"),
            "streaming.wal_commit_ms": mean("walCommit"),
            "streaming.commit_ms": mean("commitOffsets"),
            "streaming.add_batch_ms": mean("addBatch"),
            "trace.attributed_share": sum(
                sum(p.get(k, 0) for k in _BATCH_PHASES) for p in batches
            ) / sum(p["triggerExecution"] for p in batches),
        }
    )


def _sink_layers(res: Result, messages: list, rows: list) -> None:
    valid = {m.seq for m in messages if not m.malformed}
    written = sum(1 for r in rows if r[0] in valid)
    res.layers["streaming.sinks.rows_written"] = len(rows)
    res.layers["streaming.sinks.rows_lost"] = len(valid) - written
    res.layers["streaming.sinks.useful_ratio"] = written / len(valid)


def run_drain(ctx: Ctx) -> Result:
    res = Result()
    messages = spool.make_messages(ctx.seed, DRAIN_MESSAGES)
    spool_dir = os.path.join(ctx.run_dir, "spool")
    spool.write_spool(spool_dir, ctx.seed, messages, DRAIN_FILES)
    warm_dir = os.path.join(ctx.run_dir, "warm-spool")
    spool.write_spool(warm_dir, ctx.seed, spool.make_messages(ctx.seed, 5000), 2)
    warm = _setup(
        ctx, res,
        flow=lambda spark: _compile(spark, warm_dir, os.path.join(ctx.run_dir, "warm"),
                                    ctx.cpus, 15),
    )
    progress: list[dict] = []
    if ctx.trace:
        ctx.spark.streams.addListener(progress_listener(progress))

    def drain(runner) -> tuple[float, float, set[str]]:
        t0, wall0 = time.perf_counter(), time.time()
        with ctx.tracer.span("streaming.drain"):
            queries = runner.start(available_now=True)
            for q in queries:
                q.awaitTermination(120)
        return t0, time.perf_counter() - t0, wall0, {str(q.runId) for q in queries}

    w0 = time.perf_counter()
    drain(warm[0])  # untimed warm-up on a small spool
    _warmed_up(ctx, res, w0)

    timed = []
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        sink = os.path.join(ctx.run_dir, f"sink{len(timed)}")
        runner = _compile(ctx.spark, spool_dir, sink, ctx.cpus, 15)[0]
        timed.append((sink, *drain(runner)))
    walls = [wall for _, _, wall, _, _ in timed]
    _retained(res, ctx.spark)

    latencies, written, rows, run_ids = [], 0, [], set()
    for sink, t0, _, wall0, ids in timed:
        rows = gate.read_sink(os.path.join(sink, "out.sqlite"), with_due=False)
        written += len(rows)
        latencies.extend(ctx.net(t0, t0 + r[4] - wall0) for r in rows)
        res.attempted += len(messages)
        res.failed += gate.check_messages(messages, rows)
        run_ids |= ids
    _latencies(res, latencies)
    res.e2e["ops_per_s"] = written / sum(ctx.net(t0, t0 + wall) for _, t0, wall, _, _ in timed)
    res.layers["etl.pass_s"] = statistics.median(walls)
    _progress_layers(res, progress, run_ids)
    res.layers["streaming.busy_share"] = (
        res.layers.get("streaming.trigger_ms", 0.0) * res.layers.get("streaming.batches", 0)
        / 1000.0 / sum(walls)
    )
    _sink_layers(res, messages, rows)
    if ctx.trace:
        _stage_layers(ctx, res, spool_dir)
    return res


def run_paced(ctx: Ctx) -> Result:
    res = Result()
    spool_dir = os.path.join(ctx.run_dir, "spool")
    sink_dir = os.path.join(ctx.run_dir, "sink")
    os.makedirs(spool_dir, exist_ok=True)
    runners = _setup(
        ctx, res, flow=lambda spark: _compile(spark, spool_dir, sink_dir, 1, PACED_TRIGGER_S)
    )
    # no warm-up in setup_s: it is the open loop's first PACED_WARMUP_S,
    # a fixed time rather than set-up work
    progress: list[dict] = []
    if ctx.trace:
        ctx.spark.streams.addListener(progress_listener(progress))
    db = os.path.join(sink_dir, "out.sqlite")
    duration = PACED_WARMUP_S + ctx.seconds
    n = int(PACED_RATE * duration)
    messages = spool.make_messages(ctx.seed, n)
    first = int(PACED_RATE * PACED_WARMUP_S)  # first message of the window
    n_valid = sum(not m.malformed for m in messages)

    queries = runners[0].start()
    start = time.time() + 1.0
    report = os.path.join(ctx.run_dir, "generator.json")
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(os.path.dirname(__file__), "spool.py"),
            "--path", spool_dir, "--seed", str(ctx.seed), "--rate", str(PACED_RATE),
            "--start", repr(start), "--duration", repr(duration), "--report", report,
        ]
    )
    backlog = 0
    try:
        with ctx.tracer.span("streaming.paced"):
            deadline = time.time() + duration + 1.0 + PACED_DRAIN_TIMEOUT_S
            written = 0
            while time.time() < deadline:
                time.sleep(0.5)
                written = _count(db)
                due = min(n, int((time.time() - start) * PACED_RATE))
                if due >= first:  # sampled in the timed window only
                    backlog = max(backlog, due - written)
                if gen.poll() is not None and written >= n_valid:
                    break
        gen.wait(timeout=30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        for q in queries:
            q.stop()
    _retained(res, ctx.spark)
    with open(report, encoding="utf-8") as fh:
        gen_report = json.load(fh)

    rows = gate.read_sink(db, with_due=True)
    res.attempted = len(messages)
    res.failed = gate.check_messages(messages, rows)
    window = [m.seq for m in messages[first:] if not m.malformed]
    # sqlite and the generator stamp wall-clock time; the steal clock
    # reads perf_counter
    off = time.time() - time.perf_counter()
    lat = {r[0]: ctx.net(r[5] - off, r[4] - off) for r in rows}
    end = start + duration  # the window's last message is due then
    in_time = {r[0] for r in rows if r[4] <= end}
    # a message never written counts as late by the time the run gave up
    now = time.perf_counter()
    values = [
        lat[seq] if seq in lat else ctx.net(spool.paced_due(start, PACED_RATE, seq) - off, now)
        for seq in window
    ]
    _latencies(res, values)
    # throughput under the offered load: window messages already in sqlite
    # when the window ends; a flow that falls behind reads below the rate
    res.e2e["ops_per_s"] = sum(seq in in_time for seq in window) / ctx.seconds
    res.layers["etl.on_time_share"] = sum(v <= PACED_LIMIT_S for v in values) / len(values)
    res.layers["gen.late_p99_ms"] = gen_report["late_p99_ms"]
    res.layers["gen.backlog_max_rows"] = backlog
    run_ids = {str(q.runId) for q in queries}
    busy = sum(p["triggerExecution"] for p in progress if p["run_id"] in run_ids)
    res.layers["streaming.busy_share"] = busy / 1000.0 / (duration + 1.0)
    _progress_layers(res, progress, run_ids)
    _sink_layers(res, messages, rows)
    if ctx.trace:
        _stage_layers(ctx, res, spool_dir)
    return res


def _count(db: str) -> int:
    if not os.path.exists(db):
        return 0
    con = sqlite3.connect(db, timeout=5)
    try:
        return con.execute("SELECT count(*) FROM events_out").fetchone()[0]
    except sqlite3.OperationalError:  # table not created yet
        return 0
    finally:
        con.close()


def streaming_layers_from_eventlog(stats: dict, layers: dict, batches: int) -> None:
    """Jobs streaming queries ran on their own threads (attributed by
    query name), per non-empty batch."""
    st = sum_owners(stats, lambda o: o.startswith("streaming:"))
    layers["streaming.jobs"] = st.get("jobs", 0) / max(batches, 1)
    layers["streaming.task_run_s"] = st.get("task_run_s", 0.0) / max(batches, 1)


def run(ctx: Ctx) -> Result:
    """Run ``ctx.workload``; in a traced run, stop the session and fold
    the event log into the per-layer metrics."""
    if ctx.workload in QUERY_SETS:
        res = run_queries(ctx, QUERY_SETS[ctx.workload])
    elif ctx.workload == "etl_drain":
        res = run_drain(ctx)
    else:
        res = run_paced(ctx)
    ctx.spark.stop()
    ctx.spark = None
    if ctx.trace:
        stats = parse_eventlog(ctx.eventlog_dir)
        if res.passes:
            query_layers_from_eventlog(stats, res.layers, res.passes)
        if res.batches:
            streaming_layers_from_eventlog(stats, res.layers, res.batches)
    return res
