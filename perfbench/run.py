"""The repository's benchmark.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. One process and one client in a
closed loop (the next op starts when the previous one returns), on
``local[<cores>]`` with every core of the machine.

Set-up starts the session, generates the workload's inputs from
``--seed`` with their expected results, builds the state the workload
starts from, and makes **one** warm-up call per op kind. Timed rounds
then start until ``--seconds`` have passed, and at least two; each
round is the workload's write op followed by its reads. Every op's
output is checked against the expectations; a wrong result or an
exception is a failed op.

Lessons of an earlier, rejected version of this benchmark, kept here
because each rule below exists to keep the figures steady:

- no metric rests on one sample per run: a run holds at least two
  rounds, and every latency metric is a median over the ops of one kind;
- no whole-pass warm-up: one call per op kind is enough to pay JIT,
  codegen and Python-worker start, and keeps ``setup_s`` small;
- no mixed-kind medians: each op kind gets its own median, and
  ``read_p50_s`` (``write_p50_s`` where a workload has two write kinds)
  is their geometric mean, so it cannot jump between kinds from run to
  run;
- state-dependent metrics (``retained_mb``, ``bytes_per_user_byte``)
  are taken at a fixed op position, the same in every run, so a faster
  op cannot move them by fitting more ops into the window.

With ``--trace 0`` the last stdout line holds the end-to-end metrics.
With ``--trace 1`` an untraced window of half the length runs first,
then a traced window of ``--seconds`` (job tags, wrapped sink calls and
an event log attached); the last line holds the per-layer metrics of
the traced window, ``trace.overhead_frac`` compares its rounds with the
untraced ones. Lines before the last list every metric by name and
unit, sample counts and tails, the measured input properties and the
``host.noise_s`` drift probe.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "etl_ingest": ("etl_ingest", "EtlIngest"),
    "lakehouse_rw": ("lakehouse_rw", "LakehouseRw"),
    "llm_curation": ("llm_curation", "LlmCuration"),
    "lakehouse_curation": ("lakehouse_curation", "LakehouseCuration"),
}
END_TO_END = (
    ("setup_s", "s"),
    ("write_p50_s", "s"),
    ("read_p50_s", "s"),
    ("rows_per_s", "rows/s"),
    ("retained_mb", "MB"),
    ("bytes_per_user_byte", "ratio"),
)


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; None with fewer than 11 samples."""
    xs = sorted(samples)
    if len(xs) < 11:
        return None
    j = len(xs) - 11
    return xs[j], 100.0 * (j + 1) / len(xs)


class Harness:
    """What a workload needs: the session, op timing and checking, span
    tracing and a few file-system helpers."""

    def __init__(self, spark, seed: int, work: str, cores: int):
        from spans import Tracer

        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.tracer = Tracer(spark)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.rounds = 0  # timed rounds over all windows; at most wl.max_rounds
        self._op_t0 = 0.0  # wall-clock start of the running op
        self.messages: list[str] = []

    def op(self, kind: str, name: str, fn, check, record: bool = True):
        """Run one op in a span and check its result; ``check`` returns
        None when the result is right, else what is wrong. An exception
        or a wrong result is a failed op. Only ops that return are timed,
        and only when ``record`` (warm-up calls are not)."""
        self.attempted += 1
        self._op_t0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, kind):
                res = fn()
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            self._fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None
        took = time.perf_counter() - t0
        if record:
            self.samples[name].append(took)
        try:
            wrong = check(res)
        except Exception as exc:  # noqa: BLE001 - a malformed result
            wrong = f"check raised {type(exc).__name__}: {exc}"
        if wrong is not None:
            self._fail(name, wrong)
        return res

    def collect(self, df) -> list:
        """``df.collect()`` for an op that builds ``df`` and collects it.
        While tracing, the building (from the op's start to here) and
        the query's analysis and optimization are recorded as layer
        spans too."""
        if self.tracer.tagging:
            self.tracer.record("driver.df_build", self._op_t0, time.time())
        rows = df.collect()
        if self.tracer.tagging:
            self.tracer.front_end(df)
        return rows

    def _fail(self, name: str, detail: str) -> None:
        self.failed += 1
        if len(self.messages) < 20:
            self.messages.append(f"{name}: {detail}")

    @staticmethod
    def du(path: str) -> int:
        total = 0
        for d, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(d, f))
        return total

    def zstd_bytes(self, cols) -> int:
        """Bytes of ``cols`` (a dict of columns or an Arrow table)
        written once as one zstd parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "user-bytes.parquet")
        pq.write_table(cols if isinstance(cols, pa.Table) else pa.table(cols),
                       path, compression="zstd")
        size = os.path.getsize(path)
        os.remove(path)
        return size


def _setup_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the package and the benchmark."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("OMP_NUM_THREADS", None)
    # the inputs are megabytes; the package's 8g default heap only
    # inflates resident memory on a shared machine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _start_session(workload: str, work: str, cores: int):
    from data_pipeline_demo_spark.session import get_spark

    return get_spark(
        f"perfbench-{workload}",
        master=f"local[{cores}]",
        # session.get_spark: shuffle partitions "should track cluster core
        # count"; its 32 default is sized for 32 cores
        shuffle_partitions=2 * cores,
        extra_confs={
            # read only when the traced window attaches an event log
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # keep the JVM's temp and perf-data files out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noise_probe(spark, cores: int) -> float:
    """A frozen plain-Spark aggregate with no package code in its path:
    a run whose probe is slow ran on a contended host."""
    t0 = time.perf_counter()
    (spark.range(0, 1_000_000, numPartitions=cores)
     .selectExpr("id % 97 AS k", "id * 7 % 1000 AS v")
     .groupBy("k").agg({"v": "sum"}).collect())
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: steal is time
    the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def run_window(h: Harness, wl, seconds: float, fixed: dict | None) -> dict:
    """Timed rounds until ``seconds`` have passed. When ``fixed`` is
    given (the end-to-end window), there are at least ``wl.min_rounds``
    rounds, and the state-dependent metrics are taken into ``fixed``
    after round ``wl.fixed_round``, outside the window's time. There are
    always at least two rounds, so no median rests on one sample."""
    from spans import retained_bytes

    min_rounds = max(2, wl.min_rounds, wl.fixed_round + 1) if fixed is not None else 2
    wall, rows, rounds = 0.0, 0, 0
    t0 = time.time()
    ticks0 = cpu_ticks()
    while h.rounds < wl.max_rounds and (wall < seconds or rounds < min_rounds):
        t = time.perf_counter()
        rows += wl.round()
        wall += time.perf_counter() - t
        if fixed is not None and rounds == wl.fixed_round:
            fixed["retained_mb"] = retained_bytes(h.spark) / 2**20
            fixed["bytes_per_user_byte"] = wl.disk_bytes() / wl.user_bytes
        rounds += 1
        h.rounds += 1
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {"wall": wall, "rows": rows, "rounds": rounds, "t0": t0, "t1": time.time(),
            "steal": steal / total if total else 0.0}


def run(args, work: str) -> tuple[dict, list[str], Harness]:
    cores = os.cpu_count() or 1
    _setup_env(work)
    setup = {"session.start_s": -process_age()}
    spark = _start_session(args.workload, work, cores)
    setup["session.start_s"] += process_age()
    try:
        h = Harness(spark, args.seed, work, cores)
        return _measure(args, h, setup) + (h,)
    finally:
        _stop(spark)


def _measure(args, h: Harness, setup: dict) -> tuple[dict, list[str]]:
    mod, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(mod), cls)(h)
    with ExitStack() as stack:
        if args.trace:
            # wrappers go in before set-up: a stream binds its sink then
            wl.traced(stack)
        try:
            return _measure_workload(args, h, wl, setup)
        finally:
            wl.close()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _measure_workload(args, h: Harness, wl, setup: dict) -> tuple[dict, list[str]]:
    setup["session.inputs_s"] = _timed(wl.inputs) + _timed(wl.prepare)
    setup["session.expect_s"] = _timed(wl.expect)
    setup["session.warmup_s"] = _timed(wl.warmup)
    setup_s = process_age()  # process start to the first timed op

    noise = [noise_probe(h.spark, h.cores)]
    fixed: dict = {}
    if not args.trace:
        win = run_window(h, wl, args.seconds, fixed)
        noise.append(noise_probe(h.spark, h.cores))
        e2e = _end_to_end(h, wl, win, fixed, setup_s)
        return e2e, _notes(args, h, wl, win, noise, setup, e2e)

    from layers import traced_window

    run_window(h, wl, args.seconds / 2, fixed)
    base_samples = {k: list(v) for k, v in h.samples.items()}
    layers, win = traced_window(h, wl, args.seconds, run_window)
    noise.append(noise_probe(h.spark, h.cores))
    layers.update(setup)
    layers["host.noise_s"] = statistics.median(noise)
    notes = _notes(args, h, wl, win, noise, setup, None)
    notes.append("op time by layer, medians per op kind (Spark jobs and SQL executions;"
                 " driver-side layer spans outside them; residual): " + ", ".join(
                     f"{k} {r['op_s']:.3f} s = {r['spark_s']:.3f} + {r['driver_s']:.3f}"
                     f" + {r['residual_s']:.3f}" for k, r in win["residual_by_op"].items()))
    notes.append("untraced window: " + ", ".join(
        f"{k} median {statistics.median(v):.4f} s over {len(v)}"
        for k, v in base_samples.items()))
    return layers, notes


def _geomean_of_medians(h: Harness, names) -> float:
    return math.exp(statistics.fmean(math.log(statistics.median(h.samples[n])) for n in names))


def _end_to_end(h: Harness, wl, win: dict, fixed: dict, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "write_p50_s": _geomean_of_medians(h, wl.write_names),
        "read_p50_s": _geomean_of_medians(h, wl.read_names),
        "rows_per_s": win["rows"] / win["wall"],
        "retained_mb": fixed["retained_mb"],
        "bytes_per_user_byte": fixed["bytes_per_user_byte"],
    }


def _notes(args, h: Harness, wl, win: dict, noise, setup: dict, e2e) -> list[str]:
    out = [
        f"workload {args.workload} seed {args.seed}: {win['rounds']} timed rounds"
        f" in {win['wall']:.2f} s on local[{h.cores}], one client, closed loop",
        f"ops attempted {h.attempted}, failed {h.failed}",
    ]
    for name in (*wl.write_names, *wl.read_names):
        xs = h.samples[name]
        t = tail(xs)
        out.append(
            f"op {name}: {len(xs)} samples, median {statistics.median(xs):.4f} s"
            + (f", tail p{t[1]:.1f} {t[0]:.4f} s" if t else ", tail: fewer than 11 samples")
            + " [" + " ".join(f"{x:.3f}" for x in xs[:12]) + (" ...]" if len(xs) > 12 else "]")
        )
    if e2e is not None:
        samples = {"setup_s": 1,
                   "write_p50_s": min(len(h.samples[n]) for n in wl.write_names),
                   "read_p50_s": min(len(h.samples[n]) for n in wl.read_names),
                   "rows_per_s": win["rounds"], "retained_mb": 1, "bytes_per_user_byte": 1}
        per_kind = ("write_p50_s", "read_p50_s")
        out += [f"{k} = {e2e[k]:.6g} {u} ({samples[k]} samples"
                f"{', per op kind' if k in per_kind else ''})" for k, u in END_TO_END]
    out.append("input properties: " + ", ".join(
        f"{k} {v:.4f}" for k, v in wl.input_props().items()))
    out.append(f"host.noise_s {statistics.median(noise):.4f} s (before {noise[0]:.4f},"
               f" after {noise[-1]:.4f}); CPU steal in the window {win['steal']:.3f}")
    out += [f"{k} = {v:.4f} s" for k, v in setup.items()]
    out += [f"FAILED {m}" for m in h.messages]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_demo_spark")):
        print(f"perfbench: no data_pipeline_demo_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        metrics, notes, h = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    if args.trace:
        from layers import LAYER_METRICS as declared
    else:
        declared = END_TO_END
    for line in notes:
        print(line)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
