"""Pure arithmetic of the benchmark: medians, the tail rule, self times."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only with at least this many samples above it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. The value is the ``(n - beyond)``-th
    smallest sample, the percentile its rank as a share of ``n``. It never
    drops below the median: with fewer than ``2 * beyond + 1`` samples no
    sample at or above the median has ``beyond`` samples beyond it, so the
    median is the tail that can be stated.
    """
    n = len(values)
    if n == 0:
        return float("nan"), float("nan"), 0
    ordered = sorted(values)
    rank = n - beyond  # 1-based rank of the reported sample
    if rank < (n + 1) / 2:
        return median(ordered), 50.0, n
    return ordered[rank - 1], 100.0 * rank / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover."""
    clipped = [(max(start, lo), min(end, hi)) for lo, hi in children if hi > start and lo < end]
    return (end - start) - union_length(clipped)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
