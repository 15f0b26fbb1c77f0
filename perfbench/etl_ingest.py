"""Workload ``etl_ingest``: the paper's daily job, one landing file at a
time.

Set-up writes the target's first load, then each round drops one new
CSV into the landing directory and runs
``plans.reference_etl.run_ingest`` on it (CSV read with quarantine,
cleaning, rename-swap bucketed upsert on ``id``, ledger append). The
reads between ingests are ``functions.cleaning.qa_aggregates`` over the
target and id lookups on it (the reference's filtered select): half of
the looked-up ids come from the file just ingested, half uniformly from
the target.

It is the only workload on ``sources.csv_ingest``,
``functions.cleaning``, ``sinks.upsert`` and ``plans.reference_etl``;
it runs no txlog, operator or stream, so it should stay flat under
changes to those.
"""

from __future__ import annotations

import json
import os
from contextlib import ExitStack

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

BASE_ROWS = 500
FILE_ROWS = 300
UPDATE_SHARE = 0.3
QA_READS = 1
LOOKUPS = 2
NUM_BUCKETS = 32  # sinks.upsert.upsert_parquet's default modulus
MAX_ROUNDS = 10
# the state-dependent metrics are taken after this round, in every run
FIXED_ROUND = 1


class EtlIngest:
    write_names = ("plans.reference_etl.run_ingest",)
    read_names = ("functions.cleaning.qa_aggregates", "sinks.upsert.target_lookup")
    fixed_round = FIXED_ROUND
    min_rounds = 2
    max_rounds = MAX_ROUNDS

    def __init__(self, h):
        from data_pipeline_demo_spark.plans.reference_etl import PipelineConfig

        self.h = h
        self.dir = os.path.join(h.work, "etl")
        self.cfg = PipelineConfig(
            landing_dir=os.path.join(self.dir, "landing"),
            target_path=os.path.join(self.dir, "target"),
            ledger_path=os.path.join(self.dir, "ledger"),
            quarantine_path=os.path.join(self.dir, "quarantine"),
        )
        os.makedirs(self.cfg.landing_dir, exist_ok=True)
        self.counters: dict[str, list[float]] = {}  # filled while tracing

    # --- set-up ---------------------------------------------------------------

    def inputs(self) -> None:
        """Landing files and a snapshot of the ground truth after each."""
        land = gen.Landing(self.h.seed, update_share=UPDATE_SHARE)
        self.files, self.truths = [], []
        for i in range(MAX_ROUNDS + 2):
            bad0, up0 = land.bad_rows, land.update_rows
            name, text, good = land.next_file(BASE_ROWS if i == 0 else FILE_ROWS)
            self.files.append((name, text, good, land.bad_rows - bad0, land.update_rows - up0))
            self.truths.append(dict(land.truth))
        self.f = 1  # next file to ingest (file 0 is the base)

    def expect(self) -> None:
        """QA row and lookup answers for the state after each file."""
        r = gen.rng(self.h.seed, 21)
        self.qa = [gen.qa_truth(t) for t in self.truths]
        self.lookups = []
        for i, truth in enumerate(self.truths):
            prev = self.truths[i - 1] if i else {}
            fresh = [k for k, v in truth.items() if prev.get(k) != v]
            keys = list(truth)
            look = [int(fresh[j]) for j in r.integers(0, len(fresh), LOOKUPS // 2)]
            look += [int(keys[j]) for j in r.integers(0, len(keys), LOOKUPS - LOOKUPS // 2)]
            self.lookups.append([(k, truth[k]) for k in look])
        # the target's live rows at the fixed op position (after the base,
        # the warm-up file and FIXED_ROUND + 1 timed ones) written once
        # as zstd parquet
        self.user_bytes = self.h.zstd_bytes(_truth_table(self.truths[FIXED_ROUND + 2]))

    def prepare(self) -> None:
        """The target's first load (file 0, never landed), written
        straight into the layout ``sinks.upsert.upsert_parquet`` keeps:
        one ``__bucket=N`` directory per bucket and the bucket-spec
        sidecar. Loading it with ``run_ingest`` would take the upsert's
        create path, a whole ingest of set-up that warms nothing the
        timed incremental ingests run."""
        from data_pipeline_demo_spark.sinks.upsert import BUCKET_COL, BUCKET_SPEC
        from data_pipeline_demo_spark.sources.txtable_writer import bucket_ids_for

        target = self.cfg.target_path
        table = _truth_table(self.truths[0])
        buckets = bucket_ids_for(table["id"], "int64", NUM_BUCKETS)
        for b in np.unique(buckets):
            d = os.path.join(target, f"{BUCKET_COL}={b}")
            os.makedirs(d)
            pq.write_table(table.filter(pa.array(buckets == b)),
                           os.path.join(d, "part-00000.zstd.parquet"), compression="zstd")
        with open(os.path.join(target, BUCKET_SPEC), "w") as fh:
            json.dump({"num_buckets": NUM_BUCKETS, "key": "id"}, fh)

    def warmup(self) -> None:
        """One call per op kind. The first incremental ingest measured up
        to 70% slower than the next ones."""
        self._ingest(record=False)
        self._reads(1, record=False, once=True)

    # --- one round ------------------------------------------------------------

    def round(self, record: bool = True) -> int:
        """Ingest the next file, then read; returns the rows it committed."""
        n = self._ingest(record)
        self._reads(self.f - 1, record)
        return n

    def input_props(self) -> dict:
        """Measured properties of the files ingested in timed rounds."""
        used = self.files[2:self.f]
        rows = sum(x[2] + x[3] for x in used)
        return {
            "malformed_share": sum(x[3] for x in used) / rows,
            "update_share": sum(x[4] for x in used) / sum(x[2] for x in used),
            "fresh_lookup_share": (LOOKUPS // 2) / LOOKUPS,
        }

    def _ingest(self, record: bool) -> int:
        from data_pipeline_demo_spark.plans.reference_etl import run_ingest

        h, cfg, f = self.h, self.cfg, self.f
        self.f += 1
        name, text, good, bad, _ = self.files[f]
        tmp = os.path.join(self.dir, "." + name)
        with open(tmp, "w") as fh:
            fh.write(text)
        os.rename(tmp, os.path.join(cfg.landing_dir, name))
        want_total = len(self.truths[f])

        def check(rep):
            got = (
                [(p["file"], p["rows"], p["quarantined"], p["target_total"])
                 for p in rep["processed"]],
                rep["skipped"],
            )
            want = ([(name, good, bad, want_total)], f - 1)
            return None if got == want else f"report {got}; want {want}"

        before = self._data_files() if h.tracer.tagging else None
        h.op("write", self.write_names[0], lambda: run_ingest(h.spark, cfg), check, record)
        if before is not None:
            self.counters.setdefault("sinks.upsert.files_written", []).append(
                len(self._data_files() - before))
        return good

    def _data_files(self) -> set[str]:
        out = set()
        for d, _, files in os.walk(self.cfg.target_path):
            out.update(os.path.join(d, f) for f in files if f.endswith(".parquet"))
        return out

    def _reads(self, f: int, record: bool, once: bool = False) -> None:
        from pyspark.sql import functions as F

        from data_pipeline_demo_spark.functions.cleaning import qa_aggregates

        h, spark, target = self.h, self.h.spark, self.cfg.target_path
        want_qa = self.qa[f]

        def check_qa(rows):
            d = rows[0].asDict()
            got = {k: d[k] for k in want_qa}
            got["checksum_total"] = int(round(got["checksum_total"] * 100))
            return None if got == want_qa else f"qa {got}; want {want_qa}"

        for _ in range(1 if once else QA_READS):
            h.op("read", self.read_names[0],
                 lambda: h.collect(qa_aggregates(spark.read.parquet(target))),
                 check_qa, record)
        for k, want in self.lookups[f][:1] if once else self.lookups[f]:
            h.op("read", self.read_names[1],
                 lambda k=k: h.collect(spark.read.parquet(target).filter(F.col("id") == k)),
                 lambda rows, want=want: _check_row(rows, want), record)

    # --- state at the fixed op position ----------------------------------------

    def disk_bytes(self) -> int:
        """Bytes under the target, ledger and quarantine; ``user_bytes``
        is the target's live rows written once as zstd parquet."""
        roots = (self.cfg.target_path, self.cfg.ledger_path, self.cfg.quarantine_path)
        return sum(map(self.h.du, roots))

    # --- tracing -------------------------------------------------------------------

    def traced(self, stack: ExitStack) -> None:
        """Give the sink calls ``run_ingest`` makes their own spans."""
        from data_pipeline_demo_spark.plans import reference_etl

        from spans import wrapped

        t = self.h.tracer
        for attr in ("upsert_parquet", "append_ledger_rows"):
            stack.enter_context(wrapped(t, reference_etl, attr, f"sinks.upsert.{attr}"))

    def close(self) -> None:
        pass


def _truth_table(truth: dict) -> pa.Table:
    """Live rows as the target holds them: money in units, not cents."""
    cols = {"id": pa.array(list(truth), pa.int64()),
            "TransactionDatetime": pa.array([v[0] for v in truth.values()], pa.date32())}
    for j, m in enumerate(gen.MONEY_COLS):
        cols[m] = pa.array([None if v[1 + j] is None else v[1 + j] / 100
                            for v in truth.values()], pa.float64())
    return pa.table(cols)


def _check_row(rows, want: tuple) -> str | None:
    if len(rows) != 1:
        return f"{len(rows)} rows for one id"
    d = rows[0].asDict()
    got = (d["TransactionDatetime"],) + tuple(
        None if d[m] is None else int(np.round(d[m] * 100)) for m in gen.MONEY_COLS
    )
    return None if got == want else f"row {got}; want {want}"
