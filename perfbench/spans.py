"""Spans, Spark job attribution and memory probes for the benchmark.

Spans are timed in the benchmark's own code around calls into the
engine's public functions; no package code changes. With tagging on
(``--trace 1``), each span adds a Spark job tag and names its jobs
(job description), and ``wrapped`` swaps a module attribute for a
timed twin, so calls the engine makes between its own modules
(``run_ingest`` -> ``upsert_parquet``; the stream's ``foreachBatch``
-> ``txlog_upsert``) get spans too. An event log attached to the live
session for the traced window is then joined to the spans by tag:
stage accumulables give each span its tasks, executor time, shuffle,
I/O and Arrow bytes.

``--trace 0`` runs never tag, never wrap and never attach the log, so
the end-to-end metrics pay nothing for tracing. In a ``--trace 1`` run
the wrappers are in from set-up (a stream binds its sink when it
starts), but nothing is tagged or logged before the traced window.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")

# stage accumulable name -> (metric key, scale to SI units)
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.resultSize": ("result_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    # SQL metrics of the Python-exec operators (times in ms)
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
}
STAGE_KEYS = sorted({k for k, _ in _STAGE_METRICS.values()})


@dataclass
class Span:
    name: str
    tag: str
    t0: float
    t1: float
    kind: str  # "write" | "read" | "layer"

    @property
    def s(self) -> float:
        return self.t1 - self.t0


@dataclass
class Job:
    t0: float
    t1: float
    tags: frozenset
    stages: list
    metrics: dict = field(default_factory=dict)
    n_stages: int = 0
    n_tasks: int = 0


class Tracer:
    """Records spans; with ``tagging`` on, tags their Spark jobs. Spans
    nest per thread: both tags of a span opened inside another stay on
    the thread, so the outer span's jobs include the inner one's."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.tagging = False
        self._n = 0
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        with self._lock:
            self._n += 1
            tag = f"perfbench-{self._n}"
        stack = self._stack.__dict__.setdefault("names", [])
        if self.tagging:
            self.sc.addJobTag(tag)
            self.sc.setJobDescription(name)
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if self.tagging:
                self.sc.removeJobTag(tag)
                self.sc.setJobDescription(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(Span(name, tag, t0, t1, kind))

    def record(self, name: str, t0: float, t1: float) -> None:
        """A layer span timed elsewhere; it tags no jobs."""
        with self._lock:
            self.spans.append(Span(name, "", t0, t1, "layer"))

    def front_end(self, df) -> None:
        """Record the analysis and optimization phases of ``df``'s query
        (Spark's ``QueryPlanningTracker``), the SQL front-end that runs
        on the driver before the query executes, as ``sql.front_end``
        spans."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            ph = it.next()._2()
            self.record("sql.front_end", ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3)


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str):
    """Replace ``module.attr`` with a twin that runs inside a span, for
    the duration of the block."""
    orig = getattr(module, attr)

    def twin(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(module, attr, twin)
    try:
        yield
    finally:
        setattr(module, attr, orig)


class EventLog:
    """An event log attached to a live session for a stretch of work."""

    def __init__(self, spark, log_dir: str):
        jvm = spark._jvm
        jsc = spark.sparkContext._jsc.sc()
        os.makedirs(log_dir, exist_ok=True)
        self.dir = log_dir
        self._jsc = jsc
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            spark.sparkContext.applicationId,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            jsc.conf(),
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def close(self) -> tuple[list[Job], list[tuple[float, float]]]:
        # the listener bus is asynchronous: drain it before detaching
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        return parse_event_log(self.dir)


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def parse_event_log(log_dir: str) -> tuple[list[Job], list[tuple[float, float]]]:
    """The log's jobs, and the (start, end) of its SQL executions: an
    execution covers its jobs plus the driver-side work of running the
    physical plan (adaptive re-planning, result collection, a write's
    commit)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, list[float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    tags = props.get("spark.job.tags") or ""
                    jobs[e["Job ID"]] = Job(
                        t0=e["Submission Time"] / 1e3,
                        t1=e["Submission Time"] / 1e3,
                        tags=frozenset(t for t in tags.split(",") if t),
                        stages=list(e.get("Stage IDs", [])),
                    )
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
                elif ev == _SQL_START:
                    sql[e["executionId"]] = [e["time"] / 1e3, e["time"] / 1e3]
                elif ev == _SQL_END:
                    if e["executionId"] in sql:
                        sql[e["executionId"]][1] = e["time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    m = dict.fromkeys(STAGE_KEYS, 0.0)
                    for acc in info.get("Accumulables", []):
                        hit = _STAGE_METRICS.get(acc.get("Name"))
                        if hit is not None:
                            try:
                                m[hit[0]] += float(acc["Value"]) * hit[1]
                            except (TypeError, ValueError):
                                pass
                    m["tasks"] = info.get("Number of Tasks", 0)
                    stages[info["Stage ID"]] = m
    seen: set[int] = set()
    for _, job in sorted(jobs.items()):
        job.metrics = dict.fromkeys(STAGE_KEYS, 0.0)
        for sid in job.stages:
            m = stages.get(sid)
            # a reused shuffle stage is listed again by later jobs, which
            # skip it: its work belongs to the first job that lists it
            if m is None or sid in seen:
                continue
            seen.add(sid)
            job.n_stages += 1
            job.n_tasks += int(m["tasks"])
            for k in STAGE_KEYS:
                job.metrics[k] += m[k]
    return sorted(jobs.values(), key=lambda j: j.t0), sorted(tuple(x) for x in sql.values())


def covered(intervals, t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    cut = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in cut:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def job_totals(jobs: list[Job]) -> dict:
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    out.update(jobs=len(jobs), stages=0, tasks=0)
    for j in jobs:
        out["stages"] += j.n_stages
        out["tasks"] += j.n_tasks
        for k in STAGE_KEYS:
            out[k] += j.metrics[k]
    return out


def span_stats(span: Span, jobs: list[Job]) -> dict:
    """Job totals of one span plus its driver-only time: span time
    during which none of its own jobs ran."""
    mine = [j for j in jobs if span.tag in j.tags]
    out = job_totals(mine)
    out["s"] = span.s
    out["driver_only_s"] = span.s - covered([(j.t0, j.t1) for j in mine], span.t0, span.t1)
    return out


# --- memory ------------------------------------------------------------------


def retained_bytes(spark) -> int:
    """Memory the process holds: the JVM heap still in use after a full
    collection, plus the Python driver's resident set. Unlike peak RSS,
    this does not move with how much heap the collector happened to
    touch, so it shows state that builds up (caches, scratch, listener
    history)."""
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    with open("/proc/self/statm") as fh:
        driver = int(fh.read().split()[1]) * PAGE
    return int(heap.getUsed()) + driver


def cached_bytes(spark) -> int:
    return sum(
        int(r.memSize()) + int(r.diskSize())
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants (driver Python,
    the JVM it launched, and the JVM's Python workers)."""
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak process-tree RSS, sampled on a background thread."""

    def __init__(self, every: float = 0.2):
        self._every = every
        self.peak = tree_rss_bytes(os.getpid())
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._every):
            self.peak = max(self.peak, tree_rss_bytes(me))

    def close(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
