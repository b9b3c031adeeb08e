"""Spans around calls into the program's layers, one Spark job group each.

A span sets ``spark.jobGroup.id`` to its name for the calls it wraps,
so the event-log reader can charge every task to it, and records its
own start, end and parent in memory. The spans are written out with
the run's result when the benchmark ends.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent)
        self._stack.append(name)
        self._set_group(name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def wall_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.wall_s
        return dict(out)

    def count_by_name(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for sp in self.spans:
            out[sp.name] += 1
        return dict(out)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]
