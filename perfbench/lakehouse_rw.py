"""Workload ``lakehouse_rw``: a txtable taking streamed small commits
beside point reads.

Set-up builds a txtable of ``BASE_ROWS`` rows (``NUM_BUCKETS`` key
buckets, ``l_shipdate`` zone maps, a ``part_tag`` bloom column) and
starts ``streaming.jobs.stream_upsert_writer(use_txlog=True,
txn_app_id=...)`` on a parquet file source that takes one file per
trigger. Each round drops one upsert batch of ``BATCH_ROWS`` rows as a
file (mostly updates of live keys, so the table stays level) and waits
for ``processAllAvailable()``: the write latency runs from the drop to
the commit. After each commit, ``LOOKUPS`` keys are read through
``sinks.txlog.read_txtable`` and again through ``format("txtable")``
(``sources.txtable_source``): half from the commit just made, half
uniformly from the table. An in-memory mirror of the upsert sequence
gives every lookup's expected row.

Reads and writes share one log. It is the only workload on
``sinks.txlog``, ``sources.txtable_source`` and ``streaming.jobs``: a
commit change that leaves more files or versions shows up here as a
``read_p50_s`` loss.
"""

from __future__ import annotations

import json
import os
from contextlib import ExitStack

import pyarrow.parquet as pq

import gen

BASE_ROWS = 5_000
BATCH_ROWS = 200
INSERT_SHARE = 0.1
NUM_BUCKETS = 4
LOOKUPS = 2
MAX_ROUNDS = 40
FIXED_ROUND = 1
WARMUP_WRITES = 3
APP_ID = "perfbench-lakehouse"


def _progress(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


class LakehouseRw:
    write_names = ("streaming.jobs.stream_upsert_writer",)
    read_names = ("sinks.txlog.read_txtable.lookup", "sources.txtable_source.lookup")
    fixed_round = FIXED_ROUND
    min_rounds = 2
    max_rounds = MAX_ROUNDS

    def __init__(self, h):
        self.h = h
        self.dir = os.path.join(h.work, "lh")
        self.root = os.path.join(self.dir, "table")
        self.drops = os.path.join(self.dir, "drops")
        self.query = None
        self.progress: list[dict] = []  # the data trigger of each write
        self.batch_id = -1  # the stream's last committed micro-batch
        self.counters: dict[str, list[float]] = {}  # filled while tracing
        os.makedirs(self.drops, exist_ok=True)

    # --- set-up ---------------------------------------------------------------

    def inputs(self) -> None:
        ops = gen.LakehouseOps(self.h.seed, BASE_ROWS, BATCH_ROWS, INSERT_SHARE, LOOKUPS)
        self.base = ops.base
        self.batches = [ops.next_batch() for _ in range(WARMUP_WRITES + MAX_ROUNDS)]
        self.n = 0  # next batch to drop

    def expect(self) -> None:
        """The lookups' expected rows come with the batches (from the
        generator's mirror); here, the mirror's live rows at the fixed op
        position (after the warm-up batches and ``FIXED_ROUND + 1`` timed
        ones) written once as zstd parquet."""
        mirror = {row[0]: row for row in self.base}
        for batch, _ in self.batches[:WARMUP_WRITES + FIXED_ROUND + 1]:
            mirror.update((row[0], row) for row in batch)
        self.user_bytes = self.h.zstd_bytes(gen.rows_table(list(mirror.values())))

    def prepare(self) -> None:
        from data_pipeline_demo_spark.sinks.txlog import txlog_upsert
        from data_pipeline_demo_spark.streaming.jobs import stream_upsert_writer

        spark = self.h.spark
        path = os.path.join(self.dir, "base.parquet")
        pq.write_table(gen.rows_table(self.base), path)
        txlog_upsert(
            spark, spark.read.parquet(path), self.root, key="li_id",
            num_buckets=NUM_BUCKETS, stats_columns=["l_shipdate"],
            bloom_columns=["part_tag"],
        )
        source = (spark.readStream.schema(spark.read.parquet(path).schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.drops))
        self.query = stream_upsert_writer(
            source, self.root, key="li_id",
            checkpoint=os.path.join(self.dir, "checkpoint"),
            use_txlog=True, txn_app_id=APP_ID,
        ).start()
        self.versions = self._versions()

    def warmup(self) -> None:
        """One call per read kind, and three writes: the stream's commit
        path keeps warming over its first few triggers (measured: the
        first timed writes ran up to 50% slower after a single warm-up)."""
        self.round(record=False, n_lookups=1)
        for _ in range(WARMUP_WRITES - 1):
            self.round(record=False, n_lookups=0)

    # --- one round ------------------------------------------------------------

    def round(self, record: bool = True, n_lookups: int = LOOKUPS) -> int:
        """Drop the next batch and wait for its commit, then look up
        ``n_lookups`` keys through each reader."""
        from pyspark.sql import functions as F

        from data_pipeline_demo_spark.sinks.txlog import read_txtable

        h, spark, q = self.h, self.h.spark, self.query
        n = self.n
        self.n += 1
        batch, lookups = self.batches[n]
        lookups = lookups[:n_lookups]
        tmp = os.path.join(self.dir, f".batch-{n:05d}.parquet")
        pq.write_table(gen.rows_table(batch), tmp)

        def write():
            os.rename(tmp, os.path.join(self.drops, f"batch-{n:05d}.parquet"))
            q.processAllAvailable()
            return [_progress(p) for p in q.recentProgress[-3:]]

        def check_write(progress):
            # numInputRows counts every read of the micro-batch, so only
            # the trigger's batch id is compared; the new log version and
            # the lookups of the batch's keys check what it committed. A
            # stream idle for a while also reports progress, with no input
            # rows and the id of the batch it waits for.
            done = [p for p in progress
                    if p["batchId"] == self.batch_id + 1 and p["numInputRows"] > 0]
            versions = self._versions()
            if len(done) != 1 or versions != self.versions + 1:
                return (f"batch {n}: triggers {[p['batchId'] for p in progress]},"
                        f" {versions - self.versions} new log versions")
            self.batch_id += 1
            self.versions = versions
            self.progress.append(done[0])
            return None

        before = self._files() if h.tracer.tagging else None
        h.op("write", self.write_names[0], write, check_write, record)
        if before is not None:
            new = self._files() - before
            c = self.counters
            c.setdefault("sinks.txlog.files_written_per_commit", []).append(
                sum(f.endswith(".parquet") and "/_commits/" not in f for f in new))
            c.setdefault("sinks.txlog.log_bytes_per_version", []).append(
                sum(os.path.getsize(f) for f in new if "/_commits/" in f))
        for k, want in lookups:
            h.op("read", self.read_names[0],
                 lambda k=k: h.collect(read_txtable(spark, self.root).filter(F.col("li_id") == k)),
                 lambda rows, want=want: _check(rows, want), record)
            if h.tracer.tagging:
                # the scan's file count is a driver-side SQL metric, not
                # in the event log's stage accumulables
                self.counters.setdefault("sinks.txlog.read_txtable.files_read_per_lookup", []) \
                    .append(len(read_txtable(spark, self.root).inputFiles()))
        for k, want in lookups:
            h.op("read", self.read_names[1],
                 lambda k=k: h.collect(spark.read.format("txtable").load(self.root)
                                       .filter(F.col("li_id") == k)),
                 lambda rows, want=want: _check(rows, want), record)
        return len(batch)

    def _files(self) -> set[str]:
        out = set()
        for d, _, files in os.walk(self.root):
            out.update(os.path.join(d, f) for f in files)
        return out

    def _versions(self) -> int:
        return sum(f.endswith(".json") and not f.startswith(".")
                   for f in os.listdir(os.path.join(self.root, "_commits")))

    def input_props(self) -> dict:
        """Measured over the batches the timed rounds committed: the share
        of rows updating a live key, and of lookups hitting a key of the
        commit just made."""
        live = {row[0] for row in self.base}
        rows = updates = looks = fresh = 0
        for i, (batch, lookups) in enumerate(self.batches[:self.n]):
            keys = {row[0] for row in batch}
            if i >= WARMUP_WRITES:
                rows += len(batch)
                updates += len(keys & live)
                looks += len(lookups)
                fresh += sum(k in keys for k, _ in lookups)
            live |= keys
        return {"update_share": updates / rows, "fresh_lookup_share": fresh / looks}

    # --- state at the fixed op position ----------------------------------------

    def disk_bytes(self) -> int:
        """Bytes under the table root (data, manifests, log);
        ``user_bytes`` is the live rows written once as zstd parquet."""
        return self.h.du(self.root)

    # --- tracing -------------------------------------------------------------------

    def traced(self, stack: ExitStack) -> None:
        """Give the commit the stream's ``foreachBatch`` makes its own
        span. ``make_upsert_batch_fn`` binds ``txlog_upsert`` when the
        stream is built, so this must run before ``prepare``."""
        from data_pipeline_demo_spark.sinks import txlog

        from spans import wrapped

        stack.enter_context(wrapped(self.h.tracer, txlog, "txlog_upsert",
                                    "sinks.txlog.txlog_upsert"))

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


def _check(rows, want: tuple) -> str | None:
    got = [tuple(r[c] for c in gen.LH_COLS) for r in rows]
    return None if got == [want] else f"rows {got}; want {[want]}"
