"""Order statistics for reported timings (pure Python)."""

from __future__ import annotations

import statistics

#: samples a reported tail percentile must leave beyond it.
TAIL_BEYOND = 10


def _rank(pct: int, n: int) -> int:
    """1-based nearest rank of the ``pct``-th percentile of ``n`` samples
    (integer ceiling, so no float rounding at exact ranks)."""
    return max(1, (pct * n + 99) // 100)


def nearest_rank(sorted_vals: list[float], pct: int) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    return sorted_vals[_rank(pct, len(sorted_vals)) - 1]


def tail(values: list[float]) -> tuple[int, float, int]:
    """``(percentile, value, sample count)`` for the highest whole
    percentile from 50 to 99 that leaves at least ``TAIL_BEYOND``
    samples above its rank. With fewer than ``2 * TAIL_BEYOND``
    samples no percentile above the median qualifies, and the median
    is returned as percentile 50."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    for pct in range(99, 49, -1):
        if n - _rank(pct, n) >= TAIL_BEYOND:
            return pct, nearest_rank(vals, pct), n
    return 50, statistics.median(vals), n
