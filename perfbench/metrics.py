"""The benchmark's arithmetic: medians, geometric means, the tail rule
and span self times. Pure functions, unit-tested in ``tests/``."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only where at least this many samples
# lie beyond it, so it never rests on one or two stragglers.
TAIL_BEYOND = 10


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """Highest percentile (0-100, in whole percents) that leaves at
    least ``beyond`` of ``n`` samples above it. Below ``2 * beyond``
    samples that would sit under the median, so the median (50) is the
    floor."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50.0, math.floor(100.0 * (n - beyond) / n))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile, the 'inclusive' definition."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_ratio(samples: dict[str, list[float]]) -> tuple[float, float, int]:
    """Divide every op sample by its op's median, pool the ratios, and
    return (ratio at the tail percentile, that percentile, sample
    count)."""
    ratios = [v / statistics.median(vs)
              for vs in samples.values() for v in vs]
    pct = tail_percentile(len(ratios))
    return percentile(ratios, pct), pct, len(ratios)


def union_length(intervals: list[tuple[float, float]],
                 lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` after clipping to
    [lo, hi]; overlaps count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)
