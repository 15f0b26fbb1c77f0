"""Workload ``lakehouse_curation``: ``lakehouse_rw`` and ``llm_curation``
in one process; each round is one round of each.

They share a process only because of the run budget. Whatever
consumes ``BENCHMARK.json`` makes 22 runs per declared workload, and
most of a run is fixed cost: the session start and the first call of
each op kind. One session for both saves a session start and part of
the first-call cost per run. Neither part calls the other's layers, and
each op kind keeps its own median: ``write_p50_s`` and ``read_p50_s``
are geometric means over the kinds' medians, the notes of a run give
every kind's median, and the per-layer metrics split the two parts.
"""

from __future__ import annotations

from contextlib import ExitStack

from lakehouse_rw import LakehouseRw
from llm_curation import LlmCuration


class LakehouseCuration:
    def __init__(self, h):
        self.lh, self.llm = LakehouseRw(h), LlmCuration(h)
        self.parts = (self.lh, self.llm)
        self.write_names = self.lh.write_names + self.llm.write_names
        self.read_names = self.lh.read_names + self.llm.read_names
        # both parts take their state-dependent metrics after this round
        assert self.lh.fixed_round == self.llm.fixed_round
        self.fixed_round = self.lh.fixed_round
        # a third round makes each op kind's median robust to one slow
        # sample: the first timed round of these parts runs 10-15%
        # slower than the next, and their short, driver-bound ops take
        # the brunt of a burst of host contention
        self.min_rounds = 3
        self.max_rounds = min(p.max_rounds for p in self.parts)

    @property
    def user_bytes(self) -> int:
        return sum(p.user_bytes for p in self.parts)

    @property
    def counters(self) -> dict:
        return {**self.lh.counters, **self.llm.counters}

    @property
    def progress(self) -> list[dict]:
        return self.lh.progress

    def inputs(self) -> None:
        for p in self.parts:
            p.inputs()

    def expect(self) -> None:
        for p in self.parts:
            p.expect()

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warmup(self) -> None:
        for p in self.parts:
            p.warmup()

    def round(self, record: bool = True) -> int:
        return sum(p.round(record) for p in self.parts)

    def input_props(self) -> dict:
        return {**self.lh.input_props(), **self.llm.input_props()}

    def disk_bytes(self) -> int:
        return sum(p.disk_bytes() for p in self.parts)

    def traced(self, stack: ExitStack) -> None:
        for p in self.parts:
            p.traced(stack)

    def close(self) -> None:
        for p in self.parts:
            p.close()
