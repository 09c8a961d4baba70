"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start and end (epoch seconds), the id of the span
that caused it, the run id, and attributes. Spark's own counters are
attributed to spans after the run by time window (``sparkstats``).
Spans stay in memory until ``write`` at the end of the run. With
tracing off, ``span`` still times the block (the benchmark needs the
durations) but keeps nothing.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent, self.run_id, time.time(), attrs=attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (e.g. a stream batch)."""
        s = Span(next(self._ids), name, parent, self.run_id, start, end, attrs)
        if self.enabled:
            self.spans.append(s)
        return s

    def windows(self, name: str) -> list[tuple[float, float]]:
        """(start, end) in epoch ms of every span called ``name``."""
        return [(s.start * 1e3, s.end * 1e3) for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "self_seconds": self_times(self.spans),
                },
                fh,
                indent=1,
            )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        out[s.name] = out.get(s.name, 0.0) + s.seconds - covered(kids, s.start, s.end)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
