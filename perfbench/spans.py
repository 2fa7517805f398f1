"""Spans and the pure statistics the benchmark reports.

A span is one timed call from the benchmark's own code into a layer of
the package: name, start, end, parent and the id of the operation (one
query run, one tick batch, one stream batch) it belongs to. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = math.nan
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op context that yields ``None``, so untraced runs pay only a
    function call per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op or (parent.op if parent else ""),
                 parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover
    (overlapping children are merged, so nothing is subtracted twice)."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.dur - covered


def coverage(inclusive: float, layer_durations: list[float]) -> float:
    """Share of an operation's inclusive wall time that its top-level
    layer spans account for (1.0 = they tile it exactly)."""
    if inclusive <= 0:
        raise ValueError("inclusive time must be positive")
    return sum(layer_durations) / inclusive


def covers(inclusive: float, layer_durations: list[float],
           tol: float = 0.05) -> bool:
    """True when the layer spans sum to the inclusive time within
    ``tol`` (as a share of the inclusive time)."""
    return abs(coverage(inclusive, layer_durations) - 1.0) <= tol


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def tail(xs, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, sample count). With n sorted samples
    the value is the (n - beyond)-th smallest, so exactly ``beyond``
    samples lie beyond it; its percentile is its rank as a share of n."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: none has {beyond} beyond it")
    k = n - beyond          # 1-based rank
    return xs[k - 1], 100.0 * k / n, n
