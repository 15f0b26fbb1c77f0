"""Workload ``llm_curation``: incremental near-duplicate curation
against an index.

Set-up generates a base corpus of ``CORPUS_DOCS`` documents and builds
its MinHash index (``operators.dedup.minhash_index_write``). Each round
a batch of ``BATCH_DOCS`` new documents arrives, with a planted share
of near duplicates of corpus documents and, in its embeddings, planted
groups of near-identical vectors:

- read: the batch is checked against the index with
  ``operators.dedup.dedup_against_index``;
- read: its embeddings go through ``operators.similarity.semantic_dedup``;
- write: the documents with no near duplicate are appended to the index
  (``operators.dedup.minhash_index_append``) and to the corpus text.

The base corpus is large enough that the appends grow the index by
under a tenth over a run (about 35 documents a round on 2,000). It is
the CPU-heavy kernel, shuffle, Arrow and driver-side k-means path, with
no CSV, txlog or stream; the persisted scratch of ``semantic_dedup``
shows in ``retained_mb``.
"""

from __future__ import annotations

import glob
import os
from contextlib import ExitStack

import pyarrow as pa
import pyarrow.parquet as pq

import gen

CORPUS_DOCS = 2_000
BATCH_DOCS = 50
DUP_SHARE = 0.3
EMB_DUP_SHARE = 0.3
THRESHOLD = 0.7
# k-means sized for a 50-vector batch (the defaults, 16 clusters refined
# 5 times, suit corpora of thousands): about 12 vectors a cluster
N_CLUSTERS = 4
REFINE_ITERS = 2
MAX_ROUNDS = 10
FIXED_ROUND = 1

_DOCS = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
_EMB = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def _docs_table(docs) -> pa.Table:
    return pa.table({"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]},
                    schema=_DOCS)


def _parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class LlmCuration:
    # the write op: the index append plus the corpus text append
    write_names = ("operators.dedup.append_survivors",)
    read_names = ("operators.dedup.dedup_against_index",
                  "operators.similarity.semantic_dedup")
    fixed_round = FIXED_ROUND
    min_rounds = 2
    max_rounds = MAX_ROUNDS

    def __init__(self, h):
        self.h = h
        self.dir = os.path.join(h.work, "llm")
        self.corpus_dir = os.path.join(self.dir, "corpus")
        self.index = os.path.join(self.dir, "index")
        os.makedirs(self.dir, exist_ok=True)
        self.counters: dict[str, list[float]] = {}  # filled while tracing

    # --- set-up ---------------------------------------------------------------

    def inputs(self) -> None:
        c = gen.Corpus(self.h.seed, CORPUS_DOCS, BATCH_DOCS, DUP_SHARE, EMB_DUP_SHARE)
        self.corpus = c.docs
        self.batches = [c.next_batch() for _ in range(MAX_ROUNDS + 1)]
        self.n = 0  # next batch

    def expect(self) -> None:
        """Exact Jaccard in Python over each batch's candidates: the
        corpus documents, and the survivors of earlier batches (indexed
        by then), that share a shingle with a batch document. Also the
        survivors ``semantic_dedup`` must keep."""
        bsets = [[(d, gen.shingles(t)) for d, t in docs] for docs, _, _ in self.batches]
        post: dict[tuple, list[tuple[int, int]]] = {}  # shingle -> (round, batch doc)
        for i, docs in enumerate(bsets):
            for d, sh in docs:
                for s in sh:
                    post.setdefault(s, []).append((i, d))
        cands: dict[int, dict[int, frozenset]] = {}  # batch doc -> {old doc: shingles}

        def offer(old: int, sh: frozenset, after: int) -> None:
            for s in sh:
                for i, d in post.get(s, ()):
                    if i > after:
                        cands.setdefault(d, {})[old] = sh

        for d, t in self.corpus:
            offer(d, gen.shingles(t), -1)
        self.pairs, self.survivors, self.sem_keep = [], [], []
        user_rows = list(self.corpus)
        for i, ((docs, emb, groups), sets) in enumerate(zip(self.batches, bsets)):
            found = {}
            for d, sh in sets:
                for old, osh in cands.get(d, {}).items():
                    j = gen.jaccard(sh, osh)
                    if j >= THRESHOLD:
                        found[(d, old)] = j
            dup = {a for a, _ in found}
            keep = [doc for doc in docs if doc[0] not in dup]
            for d, sh in sets:
                if d not in dup:
                    offer(d, sh, i)
            self.pairs.append(found)
            self.survivors.append(keep)
            grouped = {v for g in groups for v in g}
            self.sem_keep.append(({e[0] for e in emb if e[0] not in grouped}, groups))
            if i <= FIXED_ROUND + 1:
                user_rows += keep
        self.user_bytes = self.h.zstd_bytes(_docs_table(user_rows))

    def prepare(self) -> None:
        from data_pipeline_demo_spark.operators.dedup import (
            MINHASH_INDEX_META,
            minhash_index_write,
        )
        from data_pipeline_demo_spark.sinks.upsert import read_json_sidecar

        spark = self.h.spark
        os.makedirs(self.corpus_dir, exist_ok=True)
        pq.write_table(_docs_table(self.corpus), os.path.join(self.corpus_dir, "base.parquet"))
        minhash_index_write(spark.read.parquet(self.corpus_dir), self.index)
        self.bands = read_json_sidecar(spark, os.path.join(self.index, MINHASH_INDEX_META))["bands"]

    def warmup(self) -> None:
        self.round(record=False)

    # --- one round ------------------------------------------------------------

    def round(self, record: bool = True) -> int:
        from pyspark.sql import functions as F

        from data_pipeline_demo_spark.operators.dedup import (
            dedup_against_index,
            minhash_index_append,
        )
        from data_pipeline_demo_spark.operators.similarity import semantic_dedup

        h, spark = self.h, self.h.spark
        n = self.n
        self.n += 1
        docs, emb, _ = self.batches[n]
        want_pairs = self.pairs[n]
        batch_path = os.path.join(self.dir, f"batch-{n:04d}.parquet")
        emb_path = os.path.join(self.dir, f"emb-{n:04d}.parquet")
        pq.write_table(_docs_table(docs), batch_path)
        pq.write_table(pa.table({"vec_id": [e[0] for e in emb],
                                 "embedding": [e[1] for e in emb]}, schema=_EMB), emb_path)

        def check_pairs(rows):
            if h.tracer.tagging:
                self.counters.setdefault("operators.dedup.pairs_per_batch", []).append(len(rows))
            got = {(r["doc_new"], r["doc_old"]): r["jaccard"] for r in rows}
            if got.keys() != want_pairs.keys():
                return (f"{len(got)} pairs, {len(got.keys() - want_pairs.keys())} unexpected,"
                        f" {len(want_pairs.keys() - got.keys())} missing")
            off = [k for k, j in got.items() if abs(j - want_pairs[k]) > 1e-12]
            return f"jaccard differs on {off[:3]}" if off else None

        h.op("read", self.read_names[0],
             lambda: h.collect(dedup_against_index(spark.read.parquet(batch_path),
                                                   spark.read.parquet(self.corpus_dir),
                                                   self.index, threshold=THRESHOLD)),
             check_pairs, record)

        singles, groups = self.sem_keep[n]

        def check_sem(rows):
            kept = {r["vec_id"] for r in rows}
            bad = [g for g in groups if len(kept & set(g)) != 1]
            lost = singles - kept
            return (f"{len(bad)} planted groups without exactly one survivor,"
                    f" {len(lost)} unique vectors dropped") if bad or lost else None

        h.op("read", self.read_names[1],
             lambda: h.collect(semantic_dedup(spark.read.parquet(emb_path), n_clusters=N_CLUSTERS,
                                             refine_iters=REFINE_ITERS).select("vec_id")),
             check_sem, record)

        keep = self.survivors[n]
        keep_ids = [d[0] for d in keep]
        before = set(glob.glob(os.path.join(self.index, "*.parquet"))) \
            | set(glob.glob(os.path.join(self.corpus_dir, "*.parquet")))

        def write():
            new = spark.read.parquet(batch_path).filter(F.col("doc_id").isin(keep_ids))
            with h.tracer.span("operators.dedup.minhash_index_append"):
                minhash_index_append(new, self.index)
            new.write.mode("append").parquet(self.corpus_dir)

        def check_write(_):
            idx = set(glob.glob(os.path.join(self.index, "*.parquet"))) - before
            txt = set(glob.glob(os.path.join(self.corpus_dir, "*.parquet"))) - before
            got = (_parquet_rows(idx), _parquet_rows(txt))
            want = (len(keep) * self.bands, len(keep))
            return None if got == want else f"appended (index, corpus) rows {got}; want {want}"

        h.op("write", self.write_names[0], write, check_write, record)
        return len(keep)

    def input_props(self) -> dict:
        used = range(1, self.n)
        docs = BATCH_DOCS * len(used)
        dups = sum(len({a for a, _ in self.pairs[i]}) for i in used)
        grouped = sum(len({v for g in self.batches[i][2] for v in g}) for i in used)
        return {"near_dup_share": dups / docs, "embedding_dup_share": grouped / docs}

    # --- state at the fixed op position ----------------------------------------

    def disk_bytes(self) -> int:
        """Bytes under the index and the corpus text; ``user_bytes`` is
        the live documents written once as zstd parquet."""
        return self.h.du(self.index) + self.h.du(self.corpus_dir)

    def traced(self, stack: ExitStack) -> None:
        pass  # every layer this workload reaches is one of its ops

    def close(self) -> None:
        pass
