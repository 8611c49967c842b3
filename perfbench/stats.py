"""Pure summary arithmetic: medians, the tail percentile and interval unions."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

# The tail is the highest percentile that still has this many samples above it.
TAIL_MIN_ABOVE = 10


def tail(samples: Sequence[float], min_above: int = TAIL_MIN_ABOVE) -> tuple[float, float, int]:
    """Return ``(value, percentile, n)`` for the highest percentile of
    ``samples`` with at least ``min_above`` samples above it.

    With sorted samples ``x`` that is ``x[n - min_above - 1]``, the
    ``100·(n - min_above)/n`` percentile. Below ``4·min_above`` samples that
    percentile would lie under p75, close to the median; p75, interpolated
    between neighbouring samples, is returned instead. A higher fallback
    rests on one or two samples: over ten runs of seven or eight jobs, an
    interpolated p90 moved by 30% between sets of runs of the same code.
    """
    if not samples:
        raise ValueError("tail of an empty sample")
    xs = sorted(samples)
    n = len(xs)
    if n < 4 * min_above:
        if n == 1:
            return xs[0], 75.0, 1
        return statistics.quantiles(xs, n=4, method="inclusive")[-1], 75.0, n
    k = n - min_above - 1
    return xs[k], 100.0 * (k + 1) / n, n


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the median
    (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)
