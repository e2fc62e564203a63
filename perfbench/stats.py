"""Summary statistics the benchmark reports.

Timings are reported as a median plus a tail: the highest percentile
that still has at least ``TAIL_MIN_BEYOND`` samples above it, so the
tail is never a single outlier.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, int, int]:
    """Return ``(value, percentile, n)`` for the highest whole percentile
    with at least ``min_beyond`` of the ``n`` samples strictly above its
    nearest-rank position.

    With ``n`` samples the rank ``k`` (1-based) leaves ``n - k`` samples
    beyond it, so the highest usable rank is ``n - min_beyond``; the
    percentile is the largest whole ``p`` whose nearest rank
    ``ceil(p/100 * n)`` does not pass it.
    """
    n = len(values)
    if n <= min_beyond:
        raise ValueError(f"tail needs more than {min_beyond} samples, got {n}")
    max_rank = n - min_beyond
    p = (100 * max_rank) // n
    rank = max(1, math.ceil(p * n / 100))
    return sorted(values)[rank - 1], p, n


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(n=4)``'s default method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
