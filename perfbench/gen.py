"""Seeded input generation for the benchmark.

Everything the engine sees is made here from ``--seed`` with numpy's
PCG64, one independent stream per input, so the same seed gives the
same inputs and adding a draw to one input never shifts another:

- ``Landing``: dealer-transaction CSV files for the reference ETL, one
  per round, with messy money/date strings, malformed rows and a fixed
  share of ids that update earlier rows, plus the cleaned ground truth
  the target must hold after each file;
- ``lakehouse_rows`` / ``LakehouseOps``: the txtable's base rows and
  its stream of small upsert batches (mostly updates of a fixed key
  range) with the lookups made after each commit;
- ``Corpus``: word-soup documents with a planted share of near
  duplicates of corpus documents, and embeddings with planted groups of
  near-identical vectors.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...)."""
    return np.random.default_rng([seed, *stream])


# --- reference-ETL landing files ------------------------------------------

MONEY_COLS = (
    "Amount", "TotalAmount", "Surcharge", "MSF", "Tip", "Cashout",
    "Extras", "Levy", "ServiceFee", "TxnFee", "Rebate",
)
CSV_HEADER = "id,TransactionDatetime," + ",".join(MONEY_COLS)


def _money_str(cents: int, shape: int) -> str:
    """Messy currency text whose cleaned value is ``|cents| / 100`` for
    MSF and ``cents / 100`` otherwise."""
    v = abs(cents)
    sign = "-" if cents < 0 else ""
    if shape == 0:
        return f'"{sign}${v // 100:,}.{v % 100:02d}"'
    if shape == 1:
        return f"{sign}${v // 100}.{v % 100:02d}"
    return f"{sign}{v // 100}.{v % 100:02d}"


class Landing:
    """Landing files for the reference ETL and the ground truth after
    each one.

    ``truth`` maps every live id to ``(date or None, cents or None per
    money column)`` after the files made so far. From the second file on, ``update_share`` of a file's
    ids are ids of earlier files, so the upsert updates as well as
    inserts; ids never repeat within a file. About ``bad_share`` of the
    rows carry extra fields and must quarantine (their ids are fresh and
    never reach the target). About 5% of money cells are blank or
    ``nan``. Dates are ``dd/MM/yyyy HH:mm`` (60%), ``d/M/yy H:mm``
    (20%) or unparseable.
    """

    def __init__(self, seed: int, update_share: float = 0.3, bad_share: float = 0.01):
        self._r = rng(seed, 20)
        self.update_share = update_share
        self.bad_share = bad_share
        self.truth: dict[int, tuple] = {}
        self._next_id = 100_000
        self.n_files = 0
        # measured input properties, summed over the files made so far
        self.rows = self.bad_rows = self.update_rows = 0

    def next_file(self, n_rows: int) -> tuple[str, str, int]:
        """The next landing file: (name, CSV text, good rows in it);
        ``truth`` then includes it."""
        r = self._r
        day = dt.date(2025, 1, 1) + dt.timedelta(days=self.n_files)
        n_up = int(n_rows * self.update_share) if self.truth else 0
        live = np.fromiter(self.truth, np.int64, len(self.truth))
        ups = r.choice(live, n_up, replace=False) if n_up else np.empty(0, np.int64)
        ids = np.concatenate([ups, np.arange(self._next_id, self._next_id + n_rows - n_up)])
        self._next_id += n_rows - n_up
        r.shuffle(ids)
        bad = r.random(n_rows) < self.bad_share
        dshape = r.integers(0, 10, n_rows)
        back = r.integers(0, 30, n_rows)
        hh, mm = r.integers(0, 24, n_rows), r.integers(0, 60, n_rows)
        blank = r.random((n_rows, len(MONEY_COLS)))
        cents = np.abs(r.integers(-2_000, 250_000, (n_rows, len(MONEY_COLS))))
        msf = MONEY_COLS.index("MSF")
        cents[:, msf] *= np.where(r.random(n_rows) < 0.3, -1, 1)  # MSF may be negative
        mshape = r.integers(0, 3, (n_rows, len(MONEY_COLS)))
        lines = []
        good = 0
        for k in range(n_rows):
            if bad[k]:
                # a fresh id, so a quarantined row never shadows an update
                lines.append(f"{self._next_id},01/04/2025 10:00" + ",x" * 13)
                self._next_id += 1
                self.bad_rows += 1
                continue
            d = day - dt.timedelta(days=int(back[k]))
            if dshape[k] < 6:
                dtxt, dval = f"{d.day:02d}/{d.month:02d}/{d.year} {hh[k]:02d}:{mm[k]:02d}", d
            elif dshape[k] < 8:
                dtxt, dval = f"{d.day}/{d.month}/{d.year % 100} {hh[k]}:{mm[k]:02d}", d
            else:
                dtxt, dval = ("", "nan", "not a date")[dshape[k] % 3], None
            cells, vals = [], []
            for j in range(len(MONEY_COLS)):
                if blank[k, j] < 0.05:
                    cells.append("" if blank[k, j] < 0.025 else "nan")
                    vals.append(None)
                else:
                    c = int(cents[k, j])
                    cells.append(_money_str(c, int(mshape[k, j])))
                    vals.append(abs(c))
            rid = int(ids[k])
            self.update_rows += rid in self.truth
            lines.append(f"{rid},{dtxt}," + ",".join(cells))
            self.truth[rid] = (dval, *vals)
            good += 1
        self.rows += n_rows
        self.n_files += 1
        name = f"dealer_{day.isoformat()}.csv"
        return name, CSV_HEADER + "\n" + "\n".join(lines) + "\n", good


def qa_truth(truth: dict[int, tuple]) -> dict:
    """What ``functions.cleaning.qa_aggregates`` must return over a
    target holding ``truth`` (the target keeps no blank-row flag, so
    there is no ``n_blank_rows``)."""
    dates = [v[0] for v in truth.values()]
    parsed = [d for d in dates if d is not None]
    tot = MONEY_COLS.index("TotalAmount") + 1
    return {
        "n_rows": len(truth),
        "checksum_total": sum(v[tot] for v in truth.values() if v[tot] is not None),
        "n_dates_parsed": len(parsed),
        "n_dates_null": len(dates) - len(parsed),
        "date_min": min(parsed),
        "date_max": max(parsed),
    }


# --- lakehouse rows -----------------------------------------------------------

LH_SCHEMA = pa.schema(
    [("li_id", pa.int64()), ("l_orderkey", pa.int64()), ("l_quantity", pa.int64()),
     ("l_price_cents", pa.int64()), ("l_shipdate", pa.date32()), ("part_tag", pa.string())]
)
LH_COLS = [f.name for f in LH_SCHEMA]
_DAY0 = dt.date(1995, 1, 1)


def lakehouse_rows(r: np.random.Generator, keys: np.ndarray) -> list[tuple]:
    n = len(keys)
    order = r.integers(0, 1_000_000, n)
    qty = r.integers(1, 51, n)
    price = r.integers(100, 1_000_000, n)
    day = r.integers(0, 2_500, n)
    part = r.integers(0, 2_000, n)
    return [
        (int(keys[i]), int(order[i]), int(qty[i]), int(price[i]),
         _DAY0 + dt.timedelta(days=int(day[i])), f"p-{int(part[i])}")
        for i in range(n)
    ]


def rows_table(rows: list[tuple]) -> pa.Table:
    return pa.table({c: [row[j] for row in rows] for j, c in enumerate(LH_COLS)},
                    schema=LH_SCHEMA)


class LakehouseOps:
    """The txtable's base rows and the seeded sequence of small upsert
    batches, with an in-memory mirror of the table after each one.

    Keys ``0 .. base_rows-1`` make the base table. A batch of
    ``batch_rows`` is ``1 - insert_share`` updates of uniformly chosen
    live keys and the rest new keys, so the table grows by only
    ``insert_share * batch_rows`` rows per commit. After each commit,
    ``lookups`` keys are read: the first half from the commit just made,
    the rest uniformly from the table.
    """

    def __init__(self, seed: int, base_rows: int, batch_rows: int,
                 insert_share: float, lookups: int):
        self.batch_rows = batch_rows
        self.insert_share = insert_share
        self.lookups = lookups
        self.base = lakehouse_rows(rng(seed, 40), np.arange(base_rows))
        self.mirror = {row[0]: row for row in self.base}
        self._keys = list(self.mirror)
        self._next_key = base_rows
        self._r = rng(seed, 41)

    def next_batch(self) -> tuple[list[tuple], list[tuple[int, tuple]]]:
        """(batch rows, [(lookup key, expected row)]) of the next commit;
        the mirror then includes the batch."""
        r = self._r
        n_new = int(round(self.batch_rows * self.insert_share))
        upd = r.choice(len(self._keys), self.batch_rows - n_new, replace=False)
        keys = np.concatenate([
            np.array([self._keys[i] for i in upd], np.int64),
            np.arange(self._next_key, self._next_key + n_new),
        ])
        self._next_key += n_new
        batch = lakehouse_rows(r, keys)
        for row in batch:
            if row[0] not in self.mirror:
                self._keys.append(row[0])
            self.mirror[row[0]] = row
        n_fresh = self.lookups // 2
        look = [int(k) for k in r.choice(keys, n_fresh, replace=False)]
        look += [int(self._keys[i]) for i in r.integers(0, len(self._keys), self.lookups - n_fresh)]
        return batch, [(k, self.mirror[k]) for k in look]


# --- LLM curation corpus -------------------------------------------------------

# A large pseudo-word vocabulary, so unrelated documents share almost no
# 3-word shingles and every near-duplicate pair is one the generator
# planted (the expected pairs are still computed exactly, not assumed).
_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "sei", "pa", "di", "gu", "an",
        "el", "om", "ix", "ze", "bra", "qu", "to", "fi")
VOCAB = tuple(a + b + c for a in _SYL for b in _SYL for c in _SYL)
EMBED_DIM = 32


def shingles(text: str) -> frozenset:
    """The word 3-shingles ``operators.textprep.shingle_hash_sets``
    hashes: whitespace tokens, windows 0..n-3 (one short shingle for a
    document under 3 tokens)."""
    w = text.split()
    if len(w) < 3:
        return frozenset([tuple(w)])
    return frozenset(zip(w, w[1:], w[2:]))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Corpus:
    """Base corpus documents and per-round batches.

    A batch has ``batch_docs`` documents; ``dup_share`` of them are
    near duplicates of a base-corpus document (one word in
    ``1 / edit_every`` replaced, so their Jaccard stays well above the
    0.7 threshold). Each batch also carries embeddings: ``emb_dup_share``
    of them come in groups of 2-3 near-identical vectors, the rest are
    independent random directions.
    """

    def __init__(self, seed: int, corpus_docs: int, batch_docs: int,
                 dup_share: float, emb_dup_share: float, edit_every: int = 50):
        self.batch_docs = batch_docs
        self.dup_share = dup_share
        self.emb_dup_share = emb_dup_share
        self.edit_every = edit_every
        r = rng(seed, 60)
        self.docs = [(i, self._text(r)) for i in range(corpus_docs)]
        self._r = rng(seed, 61)
        self._next_id = 10_000_000

    @staticmethod
    def _text(r: np.random.Generator) -> str:
        return " ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(30, 90))))

    def next_batch(self) -> tuple[list[tuple[int, str]], list, list[list[int]]]:
        """(documents, embedding rows, planted embedding groups)."""
        r = self._r
        n = self.batch_docs
        docs = []
        n_dup = int(round(n * self.dup_share))
        srcs = r.choice(len(self.docs), n_dup, replace=False)
        for j in range(n):
            if j < n_dup:
                w = self.docs[int(srcs[j])][1].split()
                for p in r.choice(len(w), max(1, len(w) // self.edit_every), replace=False):
                    w[int(p)] = VOCAB[int(r.integers(0, len(VOCAB)))]
                text = " ".join(w)
            else:
                text = self._text(r)
            docs.append((self._next_id + j, text))
        order = r.permutation(n)
        docs = [docs[int(i)] for i in order]

        vec = r.standard_normal((n, EMBED_DIM))
        groups: list[list[int]] = []
        j, n_grouped = 0, int(round(n * self.emb_dup_share))
        while j < n_grouped - 1:
            size = min(int(r.integers(2, 4)), n_grouped - j)
            for m in range(1, size):
                vec[j + m] = vec[j] + r.standard_normal(EMBED_DIM) * 1e-7
            groups.append([self._next_id + j + m for m in range(size)])
            j += size
        emb = [(self._next_id + i, vec[i].astype(np.float32).tolist()) for i in range(n)]
        self._next_id += n
        return docs, emb, groups
