"""In-memory spans around the benchmark's calls into the engine.

A span is (id, parent, name, start, end) in seconds on the
``time.perf_counter`` clock. ``Tracer.span`` is a context manager; spans
nest by the order they are opened. Spark SQL executions that a call
triggered are attached later as child spans (``add_child``), with the
times the status store recorded for them.

A span's self time is its duration minus the part of its interval that
its children cover (overlapping children are merged first).

``NullTracer`` has the same interface and records nothing; the
untraced run uses it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)  # labels, e.g. a phase
    counters: dict = field(default_factory=dict)  # measured, attached later

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add_child(self, parent: Span, name: str, start: float, end: float, **attrs) -> Span:
        sp = Span(len(self.spans), parent.id, name, start, end, attrs)
        self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.duration - covered(kids, sp.start, sp.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                row = asdict(sp)
                row["self_s"] = self.self_time(sp)
                f.write(json.dumps(row) + "\n")


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None
