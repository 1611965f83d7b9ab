"""Summary statistics and span arithmetic for the benchmark.

Pure functions over plain lists, unit-checked by `test_stats.py`.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, sample count).  The sample at 0-based rank
    n-1-beyond of the sorted values has exactly `beyond` samples after it;
    its percentile is the share of samples at or below it.  With `beyond`
    samples or fewer no percentile qualifies, and the maximum is returned
    with percentile 100 so the record still says how thin it is."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    rank = n - 1 - beyond
    return xs[rank], 100.0 * (rank + 1) / n, n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def geomean(values: list[float]) -> float:
    """Geometric mean: a typical value of quantities of different sizes,
    to which each contributes in proportion to its relative change."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def round_total(samples: dict[str, list[float]]) -> float:
    """Time of one round that runs every op kind once: the sum over kinds
    of each kind's median (the headline total's definition)."""
    return sum(median(v) for v in samples.values() if v)
