"""Order statistics for the benchmark's timings.

A timing is reported as its median plus a tail percentile. The tail is
the highest percentile of ``PERCENTILES`` that still has at least
``MIN_BEYOND`` samples beyond it, so the tail never rests on a handful
of outliers (p90 needs 100 samples, p75 needs 40, p50 needs 20).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # rounded first, so 99.9% of 10000 is rank 9990 and not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(values: Sequence[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule (an observed value)."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th value."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least ``MIN_BEYOND`` samples beyond it,
    or None when ``n`` is too small for any."""
    best = None
    for p in PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def summarize(values: Sequence[float]) -> dict:
    """Median, tail percentile (when the sample count allows one) and n."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = nearest_rank(values, p)
    return out
