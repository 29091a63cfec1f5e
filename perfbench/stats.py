"""Order statistics and span arithmetic used by the benchmark report."""

from __future__ import annotations

import math
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when a sample of ``n`` leaves at least ``beyond`` values
    above its ``q`` quantile (p90 needs n >= 100)."""
    return n - math.ceil(q * n) >= beyond


def quantile(values: Sequence[float], q: float) -> float | None:
    """Nearest-rank ``q`` quantile, or None when fewer than ten samples
    lie beyond it: a tail percentile read off a handful of samples is
    the largest sample, not a percentile."""
    if not values or not tail_supported(len(values), q):
        return None
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def covered(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach or b <= a:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(start: float, end: float, children: Sequence[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)
