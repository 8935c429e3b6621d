"""In-memory spans for the traced run, written out when the run ends.

A span is ``(name, start, end, parent, run)``; times are epoch seconds so
that spans recorded in Python and job intervals read from Spark's status
store share one clock. Self time is a span's duration minus the part of
it that its children cover, so over one root the self times sum to the
root's wall time whenever sibling spans do not overlap (``add_jobs``
merges overlapping job intervals for that reason).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def merge_intervals(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op
    so the untraced run pays nothing."""

    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        span = Span(len(self.spans), name, start, end, parent, self.run)
        self.spans.append(span)
        return span.id

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body as a child of the innermost open span; yields
        the span id (-1 when tracing is off)."""
        if not self.enabled:
            yield -1
            return
        sid = self.add(name, time.time(), float("nan"))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add_jobs(self, parent: int, intervals) -> None:
        """Record the union of job intervals inside ``parent`` as
        ``jobs`` spans (overlapping jobs merge into one span)."""
        if not self.enabled or parent < 0:
            return
        p = self.spans[parent]
        clipped = [(max(s, p.start), min(e, p.end)) for s, e in intervals]
        for s, e in merge_intervals(c for c in clipped if c[1] > c[0]):
            self.add("jobs", s, e, parent)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        span = self.spans[sid]
        kids = [(c.start, c.end) for c in self.children(sid)]
        return span.dur - union_length(kids, span.start, span.end)

    def subtree(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(c.id for c in self.children(cur))
        return out

    def self_time_by_name(self, sid: int) -> dict[str, float]:
        totals: dict[str, float] = {}
        for s in self.subtree(sid):
            totals[s.name] = totals.get(s.name, 0.0) + self.self_time(s.id)
        return totals

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
