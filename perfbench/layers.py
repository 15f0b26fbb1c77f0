"""Per-layer metrics of the traced window.

The layers are the package's modules. Every metric below is reported on
every workload; a layer a workload never calls reads 0. ``LAYER_METRICS``
fixes the names and units, and is the list ``BENCHMARK.json`` declares.

- ``<module>.<function>_s`` and the per-call numbers beside it are
  medians over the window's calls; ``spark_jobs``, bytes and
  ``driver_only_s`` (span time with none of the span's own Spark jobs
  running) come from joining the span's job tag to the event log.
- ``spark.*`` and ``arrow.*`` are totals over the window's jobs divided
  by its rounds (per round, so they do not grow with window length);
  ``core_busy_frac`` is executor run time over wall time times cores.
- ``sql.front_end_s`` is the analysis and optimization time of the
  queries the ops collect (Spark's ``QueryPlanningTracker``; the queries
  the engine runs inside its own functions are not seen), per round.
  ``driver.df_build_s`` is the time, per round, the read ops spend
  building the DataFrame they collect: the engine call that returns it
  (manifest reads, eager jobs, Python), the DataFrame API and its
  eager analysis.
- ``streaming.jobs.*`` are means over the writes' triggers, from
  ``StreamingQueryProgress``.
- ``trace.residual_frac`` is the share of op time no named layer
  explains (ROADMAP aim 1: the layers of a timed op add up to within
  about 10% of its wall time). Within an op, time is explained where a
  layer span inside it runs (a wrapped sink call, a stream trigger, the
  building of the DataFrame it collects and that query's front-end),
  one of the op's own Spark jobs runs, or a SQL execution inside it
  runs (its jobs plus the driver-side running of the physical plan).
  The rest is the op's residual: the front-end of queries the engine
  runs inside its own functions, driver-side Python and py4j calls
  outside those, turning collected results into Python rows. Per op
  kind, the median residual over the median op time, weighted by ops
  per round; the notes give each kind's share.
- ``trace.overhead_frac`` compares the traced window's per-kind median
  op latencies, weighted by ops per round, with the untraced window's.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics

from spans import EventLog, RssSampler, cached_bytes, covered, job_totals, span_stats

_SPARK = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_cpu_s", "s"), ("executor_run_s", "s"), ("gc_s", "s"),
    ("core_busy_frac", "ratio"), ("driver_only_s", "s"),
    ("shuffle_write_bytes", "B"), ("input_bytes", "B"), ("output_bytes", "B"),
    ("result_bytes", "B"), ("spill_bytes", "B"),
)

LAYER_METRICS: list[tuple[str, str]] = (
    [("session.start_s", "s"), ("session.inputs_s", "s"), ("session.expect_s", "s"),
     ("session.warmup_s", "s")]
    # etl_ingest
    + [("plans.reference_etl.run_ingest_s", "s"),
       ("plans.reference_etl.run_ingest.spark_jobs", "count"),
       ("plans.reference_etl.run_ingest.driver_only_s", "s"),
       ("sinks.upsert.upsert_parquet_s", "s"),
       ("sinks.upsert.files_written", "count"),
       ("sinks.upsert.bytes_written", "B"),
       ("sinks.upsert.append_ledger_rows_s", "s"),
       ("functions.cleaning.qa_aggregates_s", "s"),
       ("sinks.upsert.target_lookup_s", "s"),
       ("sinks.upsert.rows_read_per_row_returned", "ratio")]
    # lakehouse_rw
    + [("streaming.jobs.trigger_s", "s"), ("streaming.jobs.add_batch_s", "s"),
       ("streaming.jobs.wal_commit_s", "s"), ("streaming.jobs.latest_offset_s", "s"),
       ("sinks.txlog.txlog_upsert_s", "s"),
       ("sinks.txlog.txlog_upsert.spark_jobs", "count"),
       ("sinks.txlog.txlog_upsert.driver_only_s", "s"),
       ("sinks.txlog.files_written_per_commit", "count"),
       ("sinks.txlog.log_bytes_per_version", "B"),
       ("sinks.txlog.read_txtable.lookup_s", "s"),
       ("sinks.txlog.read_txtable.rows_read_per_row_returned", "ratio"),
       ("sinks.txlog.read_txtable.files_read_per_lookup", "count"),
       ("sources.txtable_source.lookup_s", "s"),
       ("sources.txtable_source.files_read_per_lookup", "count"),
       ("sources.txtable_source.python_run_s", "s")]
    # llm_curation
    + [("operators.dedup.dedup_against_index_s", "s"),
       ("operators.dedup.dedup_against_index.spark_jobs", "count"),
       ("operators.dedup.dedup_against_index.shuffle_write_bytes", "B"),
       ("operators.dedup.dedup_against_index.core_busy_frac", "ratio"),
       ("operators.dedup.pairs_per_batch", "count"),
       ("operators.similarity.semantic_dedup_s", "s"),
       ("operators.similarity.semantic_dedup.spark_jobs", "count"),
       ("operators.similarity.semantic_dedup.driver_only_s", "s"),
       ("operators.similarity.semantic_dedup.result_bytes", "B"),
       ("operators.similarity.semantic_dedup.arrow_python_run_s", "s"),
       ("operators.dedup.minhash_index_append_s", "s"),
       ("operators.dedup.index_bytes_written", "B")]
    # every workload
    + [(f"spark.{k}", u) for k, u in _SPARK]
    + [("sql.front_end_s", "s"), ("driver.df_build_s", "s"),
       ("arrow.python_run_s", "s"), ("arrow.bytes_to_python", "B"),
       ("arrow.bytes_from_python", "B"),
       ("spark.cached_bytes_end", "B"), ("process.peak_rss_mb", "MB"),
       ("trace.residual_frac", "ratio"), ("trace.overhead_frac", "ratio"),
       ("host.noise_s", "s")]
)

# span metric -> (span name, key of span_stats); medians over the calls
_PER_CALL = {
    "plans.reference_etl.run_ingest_s": ("plans.reference_etl.run_ingest", "s"),
    "plans.reference_etl.run_ingest.spark_jobs": ("plans.reference_etl.run_ingest", "jobs"),
    "plans.reference_etl.run_ingest.driver_only_s":
        ("plans.reference_etl.run_ingest", "driver_only_s"),
    "sinks.upsert.upsert_parquet_s": ("sinks.upsert.upsert_parquet", "s"),
    "sinks.upsert.bytes_written": ("sinks.upsert.upsert_parquet", "output_bytes"),
    "sinks.upsert.append_ledger_rows_s": ("sinks.upsert.append_ledger_rows", "s"),
    "functions.cleaning.qa_aggregates_s": ("functions.cleaning.qa_aggregates", "s"),
    "sinks.upsert.target_lookup_s": ("sinks.upsert.target_lookup", "s"),
    "sinks.upsert.rows_read_per_row_returned": ("sinks.upsert.target_lookup", "input_records"),
    "sinks.txlog.txlog_upsert_s": ("sinks.txlog.txlog_upsert", "s"),
    "sinks.txlog.txlog_upsert.spark_jobs": ("sinks.txlog.txlog_upsert", "jobs"),
    "sinks.txlog.txlog_upsert.driver_only_s": ("sinks.txlog.txlog_upsert", "driver_only_s"),
    "sinks.txlog.read_txtable.lookup_s": ("sinks.txlog.read_txtable.lookup", "s"),
    "sinks.txlog.read_txtable.rows_read_per_row_returned":
        ("sinks.txlog.read_txtable.lookup", "input_records"),
    "sources.txtable_source.lookup_s": ("sources.txtable_source.lookup", "s"),
    # the Python source plans one input partition, so one task, per
    # bucket it keeps, and each bucket is one file after a copy-on-write
    # commit
    "sources.txtable_source.files_read_per_lookup": ("sources.txtable_source.lookup", "scan_tasks"),
    # the lookup's stages run the Python reader: executor run time is
    # its time in Python (Spark 4.1 reports no Python time metric for a
    # data source scan)
    "sources.txtable_source.python_run_s": ("sources.txtable_source.lookup", "executor_run_s"),
    "operators.dedup.dedup_against_index_s": ("operators.dedup.dedup_against_index", "s"),
    "operators.dedup.dedup_against_index.spark_jobs":
        ("operators.dedup.dedup_against_index", "jobs"),
    "operators.dedup.dedup_against_index.shuffle_write_bytes":
        ("operators.dedup.dedup_against_index", "shuffle_write_bytes"),
    "operators.dedup.dedup_against_index.core_busy_frac":
        ("operators.dedup.dedup_against_index", "core_busy_frac"),
    "operators.similarity.semantic_dedup_s": ("operators.similarity.semantic_dedup", "s"),
    "operators.similarity.semantic_dedup.spark_jobs":
        ("operators.similarity.semantic_dedup", "jobs"),
    "operators.similarity.semantic_dedup.driver_only_s":
        ("operators.similarity.semantic_dedup", "driver_only_s"),
    "operators.similarity.semantic_dedup.result_bytes":
        ("operators.similarity.semantic_dedup", "result_bytes"),
    "operators.similarity.semantic_dedup.arrow_python_run_s":
        ("operators.similarity.semantic_dedup", "python_run_s"),
    "operators.dedup.minhash_index_append_s": ("operators.dedup.minhash_index_append", "s"),
    "operators.dedup.index_bytes_written":
        ("operators.dedup.minhash_index_append", "output_bytes"),
}
# counted by the workloads per call while tracing; medians over calls
_COUNTERS = (
    "sinks.upsert.files_written",
    "sinks.txlog.files_written_per_commit",
    "sinks.txlog.log_bytes_per_version",
    "sinks.txlog.read_txtable.files_read_per_lookup",
    "operators.dedup.pairs_per_batch",
)
# StreamingQueryProgress durations -> metric
_PROGRESS = {
    "streaming.jobs.trigger_s": "triggerExecution",
    "streaming.jobs.add_batch_s": "addBatch",
    "streaming.jobs.wal_commit_s": "walCommit",
    "streaming.jobs.latest_offset_s": "latestOffset",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def traced_window(h, wl, seconds: float, run_window) -> tuple[dict, dict]:
    """Run a traced window after an untraced one; returns the per-layer
    metrics and the window."""
    n_base = {k: len(v) for k, v in h.samples.items()}
    first_span = len(h.tracer.spans)
    first_progress = len(getattr(wl, "progress", []))
    log = EventLog(h.spark, os.path.join(h.work, "events"))
    sampler = RssSampler()
    h.tracer.tagging = True
    try:
        win = run_window(h, wl, seconds, None)
    finally:
        h.tracer.tagging = False
        jobs, sql = log.close()
        peak = sampler.close()
    spans = [s for s in h.tracer.spans[first_span:] if s.t0 >= win["t0"]]
    jobs = [j for j in jobs if win["t0"] <= j.t0 <= win["t1"]]
    rounds = win["rounds"]
    out = dict.fromkeys((k for k, _ in LAYER_METRICS), 0.0)

    stats: dict[str, list[dict]] = {}
    per_call = {name for name, _ in _PER_CALL.values()}
    for s in spans:
        if s.name not in per_call:
            continue
        st = span_stats(s, jobs)
        st["core_busy_frac"] = st["executor_run_s"] / (st["s"] * h.cores)
        mine = [j for j in jobs if s.tag in j.tags]
        st["scan_tasks"] = min((j.n_tasks for j in mine), default=0)
        stats.setdefault(s.name, []).append(st)
    for metric, (name, key) in _PER_CALL.items():
        out[metric] = _med(st[key] for st in stats.get(name, []))
    for metric in _COUNTERS:
        out[metric] = _med(wl.counters.get(metric, []))
    progress = getattr(wl, "progress", [])[first_progress:]
    for metric, key in _PROGRESS.items():
        # a mean, not a median: the durations come in whole milliseconds
        ms = [p["durationMs"].get(key, 0) for p in progress]
        out[metric] = sum(ms) / len(ms) / 1e3 if ms else 0.0

    wall = win["t1"] - win["t0"]
    tot = job_totals(jobs)
    for k, _ in _SPARK:
        if k in tot:
            out[f"spark.{k}"] = tot[k] / rounds
    out["spark.core_busy_frac"] = tot["executor_run_s"] / (wall * h.cores)
    out["spark.driver_only_s"] = (
        wall - covered([(j.t0, j.t1) for j in jobs], win["t0"], win["t1"])) / rounds
    out["arrow.python_run_s"] = tot["python_run_s"] / rounds
    out["arrow.bytes_to_python"] = tot["bytes_to_python"] / rounds
    out["arrow.bytes_from_python"] = tot["bytes_from_python"] / rounds
    for name in ("sql.front_end", "driver.df_build"):
        out[f"{name}_s"] = sum(s.s for s in spans if s.name == name) / rounds
    out["spark.cached_bytes_end"] = cached_bytes(h.spark)
    out["process.peak_rss_mb"] = peak / 2**20
    triggers = [_trigger_interval(p) for p in progress]
    win["residual_by_op"] = op_residuals(spans, jobs, sql, triggers)
    explained = total = 0.0
    for r in win["residual_by_op"].values():
        total += r["n"] / rounds * r["op_s"]
        explained += r["n"] / rounds * (r["op_s"] - r["residual_s"])
    out["trace.residual_frac"] = 1.0 - explained / total

    traced, untraced = 0.0, 0.0
    for name, xs in h.samples.items():
        before, after = xs[:n_base.get(name, 0)], xs[n_base.get(name, 0):]
        if before and after:
            per_round = len(after) / rounds
            traced += per_round * statistics.median(after)
            untraced += per_round * statistics.median(before)
    out["trace.overhead_frac"] = traced / untraced - 1.0
    return out, win


def _trigger_interval(progress: dict) -> tuple[float, float]:
    """(start, end) of a stream trigger from its ``StreamingQueryProgress``."""
    t0 = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return t0, t0 + progress["durationMs"].get("triggerExecution", 0) / 1e3


def op_residuals(spans, jobs, sql, layers) -> dict[str, dict]:
    """Per op kind, medians over its ops: ``op_s``; ``spark_s``, the time
    one of the op's own Spark jobs or a SQL execution runs;
    ``driver_s``, the time only a layer span or one of ``layers``
    (intervals of layers that are not spans) covers; ``residual_s``, the
    time nothing covers; and the count ``n``. One client runs one op at
    a time, so what overlaps an op is the op's work."""
    inner = [(s.t0, s.t1) for s in spans if s.kind == "layer"] + list(layers)
    per: dict[str, list[tuple[float, float, float, float]]] = {}
    for op in spans:
        if op.kind not in ("write", "read"):
            continue
        spark = [(j.t0, j.t1) for j in jobs if op.tag in j.tags]
        spark += [(a, b) for a, b in sql if a < op.t1 and b > op.t0]
        both = spark + [(a, b) for a, b in inner if a < op.t1 and b > op.t0]
        spark_s = covered(spark, op.t0, op.t1)
        all_s = covered(both, op.t0, op.t1)
        per.setdefault(op.name, []).append((op.s, spark_s, all_s - spark_s, op.s - all_s))
    keys = ("op_s", "spark_s", "driver_s", "residual_s")
    return {name: {**{k: statistics.median(x[i] for x in v) for i, k in enumerate(keys)},
                   "n": len(v)} for name, v in per.items()}
