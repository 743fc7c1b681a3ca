"""Summary statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, so a tail figure never
rests on one or two slow calls.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
#: candidate tail percentiles, highest first
TAIL_LADDER = (99, 95, 90, 75, 50)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct * len(ordered) / 100))
    return ordered[rank - 1]


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``pct`` percentile."""
    return n - max(1, math.ceil(pct * n / 100))


def tail_percentile(n: int, ladder: tuple[int, ...] = TAIL_LADDER) -> int | None:
    """The highest percentile in ``ladder`` with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the lowest has fewer."""
    for pct in ladder:
        if beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)
