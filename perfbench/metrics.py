"""Sample statistics, result checksums and span arithmetic.

Pure Python and NumPy, so ``test_perfbench.py`` can check every rule
here without starting Spark.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> tuple[int, float]:
    """Index into ``n`` sorted samples of the tail, and its percentile.

    The tail is the highest nearest-rank percentile with at least
    ``beyond`` samples above it. With ``2 * beyond`` samples or fewer
    that percentile would sit below the middle, so the tail falls back
    to the upper median and never reads below ``op_p50``."""
    if n < 1:
        raise ValueError("tail of an empty sample")
    idx = max(n - beyond - 1, n // 2)
    return idx, 100.0 * (idx + 1) / n


def latency_summary(samples_s: list[float]) -> dict:
    """Median and tail of op latencies (seconds in, milliseconds out)."""
    xs = sorted(samples_s)
    idx, pct = tail_rank(len(xs))
    return {
        "p50_ms": statistics.median(xs) * 1e3,
        "tail_ms": xs[idx] * 1e3,
        "tail_pct": pct,
        "n": len(xs),
        "beyond": len(xs) - idx - 1,
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread a bound is held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLD = np.uint64(0x9E3779B97F4A7C15)


def id_checksum(ids) -> int:
    """Order-independent checksum of a multiset of int64 ids: the
    wrapping sum of each id's splitmix64 mix. Reordering leaves it
    unchanged; a missing, extra or altered id changes it."""
    x = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        x = x + _GOLD
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        x = x ^ (x >> np.uint64(31))
        return int(x.sum(dtype=np.uint64))


@dataclass
class Span:
    op: int
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class _Open:
    __slots__ = ("tracer", "span")

    def __init__(self, tracer: "Tracer", span: Span):
        self.tracer, self.span = tracer, span

    def __enter__(self):
        self.tracer._stack.append(self.span.id)
        return self.span

    def __exit__(self, *exc):
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()
        return False


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class Tracer:
    """In-memory spans. Each op gets one root span (``op``); spans
    opened inside it are its children, and share its op id. A disabled
    tracer hands out one shared no-op context and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            return _NULL
        if op is not None:
            self.op = op
        parent = self._stack[-1] if self._stack else None
        s = Span(self.op, len(self.spans), parent, name, time.perf_counter())
        self.spans.append(s)
        return _Open(self, s)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per span name: each span's duration minus
    the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += (s.end - s.start) - _covered(kids[s.id], s.start,
                                                    s.end)
    return dict(out)


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer, the span-name prefix before '.'
    (root ``op``/``tick`` spans form the ``bench`` layer)."""
    out: dict[str, float] = defaultdict(float)
    for name, t in self_times(spans).items():
        layer = name.split(".", 1)[0] if "." in name else "bench"
        out[layer] += t
    return dict(out)
