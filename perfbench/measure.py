"""Spark-free measurement helpers: the median and tail rule, and spans.

Kept free of Spark and of the engine so the benchmark's own unit tests
(``perfbench/test_perfbench.py``) run in a second.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

# Percentiles a ``_tail`` metric may report, lowest first. The tail is the
# highest of these with at least TAIL_MIN_BEYOND samples above it, so a
# short run reports no tail rather than a maximum made of a few samples.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def _rank(n: int, p: float) -> int:
    """ceil(n * p / 100) in integers (p in tenths of a percent), at least 1."""
    return max(1, -(-n * round(p * 10) // 1000))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    return sorted(values)[_rank(len(values), p) - 1]


def tail(values: list[float]) -> dict:
    """``{"value", "percentile", "samples"}`` for the highest ladder
    percentile that leaves at least TAIL_MIN_BEYOND samples above it.
    With fewer than 2 * TAIL_MIN_BEYOND samples no percentile qualifies:
    value and percentile are None and only the sample count is reported."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n - _rank(n, p) >= TAIL_MIN_BEYOND:
            best = p
    if best is None:
        return {"value": None, "percentile": None, "samples": n}
    return {"value": percentile(values, best), "percentile": best, "samples": n}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans around calls into the engine's layers.

    ``enabled=False`` makes ``span`` a bare timer: the caller still gets
    the duration, but nothing is kept, so the untraced run pays only two
    clock reads per call."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the union of
        its children's intervals (children may overlap one another)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.sid, [])]
            )
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def records(self) -> list[dict]:
        return [
            {"sid": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.seconds = 0.0

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            self.sid = len(t.spans)
            self.parent = t._stack[-1] if t._stack else None
            t._stack.append(self.sid)
            t.spans.append(Span(self.name, 0.0, 0.0, self.parent, t.run_id, self.sid))
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        self.seconds = end - self.start
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            s = t.spans[self.sid]
            s.start, s.end = self.start, end
