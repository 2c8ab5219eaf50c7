"""Spans recorded by the benchmark around calls into the package, and the
self-time arithmetic over them.

A span is (name, start, end). Spans of one name may overlap (parallel sink
threads), so a layer's busy time is the length of the union of its spans, and
its self time is that union minus the part covered by its child layers'
spans. Spans are kept in memory and read when the traced run ends.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Iterator, NamedTuple


class Span(NamedTuple):
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans.append(Span(name, t0, t1))

    def named(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]

    def clear(self) -> None:
        with self._lock:
            self.spans.clear()


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge intervals into disjoint, sorted ones."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in union(intervals))


def intersect(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Intersection of two interval sets."""
    out = []
    ua, ub = union(a), union(b)
    i = j = 0
    while i < len(ua) and j < len(ub):
        s, e = max(ua[i][0], ub[j][0]), min(ua[i][1], ub[j][1])
        if s < e:
            out.append((s, e))
        if ua[i][1] < ub[j][1]:
            i += 1
        else:
            j += 1
    return out


def self_time(layer: list[tuple[float, float]], children: list[tuple[float, float]]) -> float:
    """Union of the layer's spans minus the part its children cover."""
    return length(layer) - length(intersect(layer, children))
