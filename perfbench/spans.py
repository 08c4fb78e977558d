"""Spans around the benchmark's calls into each layer.

A span records its name, start, end, its parent span and the trace it
belongs to (one traced pass). Every span runs its Spark jobs under its own
job group, so the counts Spark keeps for those jobs can be read back per
span. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass

from spark_proc import group_stats


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, proc, trace_id: str):
        self.proc = proc
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self.errors: list[str] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        sp = Span(len(self.spans), name, self.trace_id, parent, 0.0)
        self.spans.append(sp)
        sc = self.proc.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        self._open.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self._open:
                sc.setJobGroup(self._open[-1].group, self._open[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def stats(self, sp: Span, group: str | None = None) -> dict:
        """Spark's totals for the jobs run inside ``sp`` (or ``group``)."""
        return group_stats(self.proc.spark, group or sp.group)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
