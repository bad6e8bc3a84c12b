"""Small order statistics shared by the runner and the steadiness tool."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    vals = list(values)
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the sample at or below it (``q`` in (0, 100])."""
    if not 0 < q <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {q}")
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    return float(vals[_rank(q, len(vals)) - 1])


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` in ``n`` samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_frac(values) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def slope(ys) -> float:
    """Least-squares slope of ``ys`` against their positions 0..n-1."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(values, beyond: int = 10):
    """The highest percentile of ``LADDER`` that leaves at least
    ``beyond`` samples above it, as ``(q, value)``; None when even the
    median has fewer."""
    n = len(values)
    best = None
    for q in LADDER:
        if n - _rank(q, n) >= beyond:
            best = (q, percentile(values, q))
    return best


def paired_overhead(seq) -> float:
    """Tracing overhead from ``(traced, wall)`` cycles in run order, where
    every traced cycle sits between two untraced ones: the median over
    traced cycles of wall / mean(neighbours' walls) - 1. Comparing with
    both neighbours cancels a cycle wall that drifts linearly with
    position (a growing store, a warm-up curve)."""
    ratios = [w / ((seq[i - 1][1] + seq[i + 1][1]) / 2.0)
              for i, (traced, w) in enumerate(seq) if traced]
    return median(ratios) - 1.0
