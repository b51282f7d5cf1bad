"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs, min_beyond: int = 10):
    """The highest whole percentile that has at least ``min_beyond`` samples
    above it, by the nearest-rank rule, as ``(percentile, value, n)``; None
    when there are too few samples for any percentile to qualify."""
    s = sorted(xs)
    n = len(s)
    best = None
    for p in range(1, 100):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, s[rank - 1], n)
    return best
