"""In-memory spans and the reducer that turns them into self times.

A span is ``(name, start, end, parent, op_id)``; ``parent`` is the index
of the enclosing span in the same list, or ``None`` for a root. Spans
are only kept in memory while the benchmark runs and are written out
once, at exit.

Self time of a span is its duration minus the part of its interval that
its children cover. Children may overlap each other (work handed to a
pool, or two wrappers around the same call); the covered part is the
union of their intervals clipped to the parent, so overlapping children
are never subtracted twice and self times of one tree sum exactly to
the root's duration.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import NamedTuple


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span, in the order given."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def reduce_by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """``name -> {count, total_s, self_s}`` over all spans."""
    out: dict[str, dict[str, float]] = {}
    for s, own in zip(spans, self_times(spans)):
        row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += s.end - s.start
        row["self_s"] += own
    return out


class Tracer:
    """Span recorder. Disabled, ``span`` costs one attribute check and
    records nothing, so untraced runs measure the program alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = 0
        #: seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, self.op_id))
        self._stack.append(i)
        start = time.perf_counter()
        self.bookkeeping_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[i] = Span(name, start, end, parent, self.op_id)
            self.bookkeeping_s += time.perf_counter() - end

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s._asdict()) + "\n")
