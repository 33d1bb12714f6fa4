"""In-memory spans and the summary statistics the benchmark reports.

A span is one timed call into a layer: name, start, end, and the span that
was open when it began (its parent). Spans live in a list until the run
ends; nothing is written while a workload is being timed.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; the open span of the calling thread is the parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(name, time.perf_counter(), parent=stack[-1].sid if stack else None,
                        sid=len(self.spans), attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= max(a, reach):
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it that its children cover."""
    return span.duration - covered(span.start, span.end, [(c.start, c.end) for c in children])


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


#: percentiles the tail rule may pick, highest first
TAIL_CANDIDATES = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples beyond it,
    or None when ``n`` samples support none of them."""
    for p in TAIL_CANDIDATES:
        if n - _rank(n, p) >= 10:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
