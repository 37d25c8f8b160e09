"""Tracing for the benchmark's traced run: spans, event-log task
metrics, streaming progress, process-tree memory and host context.

Spans are recorded by the benchmark around its calls into each layer
and kept in memory; :meth:`Tracer.dump` writes them out when the run
ends. Spark's executor-side numbers come from the run's own
uncompressed event log, parsed after the session stops: jobs are
attributed to ``<workload>:<query>:build|exec`` job groups, and jobs
that a streaming query launches on its own thread (which does not
inherit a job group) are attributed by the query's name instead.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    run_id: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanContext(self, name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)

    def total(self, prefix: str) -> float:
        """Summed duration of the spans whose name starts with ``prefix``."""
        return sum(s.end - s.start for s in self.spans if s.name.startswith(prefix))


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            t = self.tracer
            parent = t._stack[-1] if t._stack else None
            t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, t.run_id))
            t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.tracer.spans[self.tracer._stack.pop()].end = time.perf_counter()
        return False


# --- Spark event log ---------------------------------------------------------


def eventlog_confs(log_dir: str) -> dict[str, str]:
    """Session confs for a local event log, uncompressed so that reading
    it needs no zstd module."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _job_owner(props: dict) -> str:
    # a streaming query's jobs run on its own thread with the run id as
    # their job group and "<query name>\nid = ...\nbatch = N" as their
    # description, so they are attributed by the name
    if props.get("sql.streaming.queryId"):
        desc = props.get("spark.job.description") or ""
        return "streaming:" + desc.split("\n", 1)[0]
    return props.get("spark.jobGroup.id") or "other"


def parse_eventlog(log_dir: str) -> dict[str, dict]:
    """Per-owner job, task and timing totals from every event log file
    under ``log_dir``. Owners are job groups, ``streaming:<query name>``
    for jobs a streaming query launched, and ``other``."""
    out: dict[str, dict] = {}

    def acc(owner: str) -> dict:
        return out.setdefault(
            owner,
            {
                "jobs": 0, "tasks": 0, "job_wall_s": 0.0, "task_run_s": 0.0,
                "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
            },
        )

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(files):
        # one file per session: job and stage ids restart in each
        stage_owner: dict[int, str] = {}
        job_owner: dict[int, str] = {}
        job_start: dict[int, float] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    owner = _job_owner(ev.get("Properties") or {})
                    job_owner[ev["Job ID"]] = owner
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_owner[sid] = owner
                    acc(owner)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    owner = job_owner.get(ev["Job ID"], "other")
                    start = job_start.get(ev["Job ID"])
                    if start is not None:
                        acc(owner)["job_wall_s"] += ev["Completion Time"] / 1000.0 - start
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_owner.get(ev["Stage ID"], "other"))
                    a["tasks"] += 1
                    a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out


def sum_owners(stats: dict[str, dict], keep) -> dict:
    """Add up the owners for which ``keep(owner)`` is true."""
    total: dict[str, float] = {}
    for owner, vals in stats.items():
        if keep(owner):
            for k, v in vals.items():
                total[k] = total.get(k, 0) + v
    return total


# --- streaming progress ------------------------------------------------------


def progress_listener(sink: list):
    """A StreamingQueryListener appending each progress's ``durationMs``
    plus ``numInputRows`` and the query's run id to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            row = dict(p.durationMs)
            row["rows"] = p.numInputRows
            row["run_id"] = str(p.runId)
            sink.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --- process tree memory and host context ------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers, the
    JVM's libraries) are split between their sharers instead of being
    counted once per process as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss(root: int) -> dict[int, tuple[str, int]]:
    """``{pid: (command, PSS kB)}`` for ``root`` and its descendants."""
    out: dict[int, tuple[str, int]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out[pid] = (comm, _pss_kb(pid))
        todo.extend(_children(pid))
    return out


class RssSampler:
    """Background thread keeping the peak total of :func:`tree_pss` and
    its breakdown by command at that peak, in MiB.

    A process counts once it has been seen in two successive samples: a
    child the JVM has forked but not yet exec'd shares the JVM's address
    space, so for its few milliseconds of life it reports the JVM's whole
    footprint a second time."""

    def __init__(self, interval: float = 0.25):
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root, previous = os.getpid(), set()
        while not self._stop.is_set():
            sample = tree_pss(root)
            by_command: dict[str, float] = {}
            for pid, (comm, kb) in sample.items():
                if pid in previous or pid == root:
                    by_command[comm] = by_command.get(comm, 0.0) + kb / 1024.0
            if sum(by_command.values()) > self.peak_mb:
                self.peak_mb = sum(by_command.values())
                self.peak_by_command = by_command
            previous = set(sample)
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def retained_mb(spark, settle_s: float = 0.5, rounds: int = 6) -> tuple[float, dict]:
    """Memory (MiB) this process's tree holds once the JVM has run full
    collections: the tree's PSS minus the JVM heap's committed but unused
    part. How far the lazily grown heap expands, and how much of it the
    collector hands back, varies between runs of identical work; what
    the run holds does not. Counts only processes seen in two samples
    ``settle_s`` apart, like :class:`RssSampler`. Also returns the
    breakdown by command and the heap's figures."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # a collection lets Spark's ContextCleaner drop the blocks of
    # unreachable broadcasts and shuffles, which the next one frees:
    # collect until the heap stops shrinking
    used = float("inf")
    for _ in range(rounds):
        jvm.System.gc()
        time.sleep(settle_s)
        before, used = used, bean.getHeapMemoryUsage().getUsed()
        if used > 0.99 * before:
            break
    first = tree_pss(os.getpid())
    time.sleep(settle_s)
    second = tree_pss(os.getpid())
    heap = bean.getHeapMemoryUsage()
    parts = {"jvm_heap_used": heap.getUsed() / 2**20,
             "jvm_heap_committed": heap.getCommitted() / 2**20}
    pss = 0.0
    for pid, (comm, kb) in second.items():
        if pid in first:
            parts[comm] = parts.get(comm, 0.0) + kb / 1024.0
            pss += kb / 1024.0
    return pss - parts["jvm_heap_committed"] + parts["jvm_heap_used"], parts


class StealClock:
    """Background thread sampling the machine's CPU time from
    ``/proc/stat`` every ``interval`` s, so that any interval of the run
    can be charged the time the hypervisor gave this virtual machine's
    CPUs to other tenants.

    Over an interval of wall time ``W``, let ``B`` be the CPU time the
    machine's CPUs ran and ``S`` the time they were ready to run but
    stolen. Work that kept ``(B + S) / W`` CPUs occupied would have taken
    ``W * B / (B + S)`` had nothing been stolen; :meth:`stolen` returns
    the difference, ``W * S / (B + S)``."""

    def __init__(self, interval: float = 0.05):
        self._t: list[float] = []
        self._busy: list[int] = []
        self._steal: list[int] = []
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            busy, steal = cpu_jiffies()
            self._busy.append(busy)
            self._steal.append(steal)
            self._t.append(time.perf_counter())  # appended last: see _at
            self._stop.wait(self._interval)

    def _at(self, series: list[int], t: float) -> float:
        n = len(self._t)
        i = bisect.bisect_left(self._t, t, 0, n)
        if i == 0 or i == n:
            return float(series[min(i, n - 1)])
        t0, t1 = self._t[i - 1], self._t[i]
        return series[i - 1] + (series[i] - series[i - 1]) * (t - t0) / (t1 - t0)

    def stolen(self, t0: float, t1: float) -> float:
        """Wall seconds lost to steal between two ``time.perf_counter()``
        readings."""
        busy = self._at(self._busy, t1) - self._at(self._busy, t0)
        steal = self._at(self._steal, t1) - self._at(self._steal, t0)
        return (t1 - t0) * steal / (busy + steal) if busy + steal > 0 else 0.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def cpu_jiffies() -> tuple[int, int]:
    """Cumulative (busy, steal) jiffies of all CPUs from ``/proc/stat``:
    busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def cpu_canary() -> float:
    """Wall seconds of a fixed single-thread pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    return time.perf_counter() - t0
