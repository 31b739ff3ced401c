"""Tail percentile and spread helpers (no Spark)."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_tail_leaves_ten_samples_beyond():
    vals = [float(v) for v in range(1, 101)]
    assert stats.tail(vals) == (90, 90.0, 100)
    pct, val, n = stats.tail([float(v) for v in range(1, 37)])
    assert (pct, n) == (72, 36)
    assert val == 26.0 and sum(v > val for v in range(1, 37)) == 10


def test_tail_falls_back_to_the_median_below_twenty_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (50, 2.0, 3)
    assert stats.tail([float(v) for v in range(18)]) == (50, 8.5, 18)
    assert stats.tail([float(v) for v in range(20)])[0] == 50


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])
