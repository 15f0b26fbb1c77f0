"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and expectation tests run in about a second, without
Spark. ``test_corrupted_expectation_is_reported`` runs one whole
benchmark process (under a minute) with one expected row corrupted and
requires the result line to report the failed op.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import _trigger_interval, op_residuals  # noqa: E402
from run import tail  # noqa: E402
from spans import Job, Span  # noqa: E402


def test_inputs_follow_the_seed():
    a, b = gen.Landing(3), gen.Landing(3)
    assert a.next_file(50) == b.next_file(50) and a.truth == b.truth
    assert gen.Landing(4).next_file(50) != gen.Landing(3).next_file(50)
    x = gen.LakehouseOps(3, 100, 10, 0.1, 2)
    y = gen.LakehouseOps(3, 100, 10, 0.1, 2)
    assert x.next_batch() == y.next_batch()
    c, d = gen.Corpus(3, 50, 10, 0.3, 0.3), gen.Corpus(3, 50, 10, 0.3, 0.3)
    assert c.docs == d.docs and c.next_batch()[0] == d.next_batch()[0]


def test_landing_updates_and_quarantines():
    land = gen.Landing(5, update_share=0.3, bad_share=0.05)
    land.next_file(200)
    n0 = len(land.truth)
    _, text, good = land.next_file(200)
    assert text.count("\n") == 201  # header + rows
    # 30% of the file's ids are old ones; a malformed row never updates
    assert 40 < land.update_rows <= 60 and land.bad_rows > 0
    assert len(land.truth) - n0 == good - land.update_rows


def test_lakehouse_lookups_see_their_commit():
    ops = gen.LakehouseOps(7, 1_000, 40, 0.1, 4)
    batch, lookups = ops.next_batch()
    keys = {row[0]: row for row in batch}
    assert len(ops.mirror) == 1_004
    assert all(keys[k] == want for k, want in lookups[:2])  # the fresh half
    assert all(ops.mirror[k] == want for k, want in lookups)


def test_planted_near_duplicates_clear_the_threshold():
    c = gen.Corpus(11, 200, 40, 0.3, 0.3)
    docs, emb, groups = c.next_batch()
    sets = {i: gen.shingles(t) for i, t in c.docs}
    best = sorted(max(gen.jaccard(gen.shingles(t), s) for s in sets.values()) for _, t in docs)
    assert sum(j >= 0.7 for j in best) == 12  # exactly the planted 30%
    assert best[-12] > 0.8 and best[-13] < 0.1
    assert sum(len(g) for g in groups) == 12 and all(2 <= len(g) <= 3 for g in groups)
    assert gen.shingles("a b") == frozenset([("a", "b")])


def test_tail():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0)  # ten samples beyond p90
    assert tail(xs[:10]) is None


def test_residual_is_op_time_no_layer_explains():
    op = Span("w", "t1", 0.0, 10.0, "write")
    spans = [op, Span("sink", "t2", 1.0, 4.0, "layer"),
             Span("other", "t3", 11.0, 12.0, "layer")]  # outside the op
    jobs = [Job(3.0, 6.0, frozenset({"t1"}), []),
            Job(6.0, 9.5, frozenset({"t9"}), [])]  # another span's job
    trigger = _trigger_interval({"timestamp": "1970-01-01T00:00:08.500Z",
                                 "durationMs": {"triggerExecution": 500}})
    assert trigger == (8.5, 9.0)
    # Spark: [3, 6] the op's job, [7, 8] a SQL execution; driver-side
    # layers outside those: [1, 3] the sink span, [8.5, 9] the trigger;
    # 3.5 s of 10 are explained by nothing
    got = op_residuals(spans, jobs, [(7.0, 8.0)], [trigger])
    assert got == {"w": {"op_s": 10.0, "spark_s": 4.0, "driver_s": 2.5,
                         "residual_s": 3.5, "n": 1}}


_CORRUPT = """
import runpy, sys
sys.path.insert(0, {here!r})
import gen
next_batch = gen.LakehouseOps.next_batch
def corrupted(self):
    batch, lookups = next_batch(self)
    self.made = getattr(self, "made", 0) + 1
    if self.made == 5:  # the second timed round's first lookup
        k, row = lookups[0]
        lookups[0] = (k, row[:2] + (row[2] + 1,) + row[3:])
    return batch, lookups
gen.LakehouseOps.next_batch = corrupted
sys.argv = ["run.py"] + sys.argv[1:]
runpy.run_path({run!r}, run_name="__main__")
"""


def test_corrupted_expectation_is_reported():
    code = _CORRUPT.format(here=HERE, run=os.path.join(HERE, "run.py"))
    p = subprocess.run(
        [sys.executable, "-c", code, "--workload", "lakehouse_rw", "--seed", "5",
         "--seconds", "1", "--trace", "0"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    # one lookup kind per reader: both see the corrupted row
    assert result["failed"] == 2, p.stdout
    assert "FAILED sinks.txlog.read_txtable.lookup" in p.stdout
