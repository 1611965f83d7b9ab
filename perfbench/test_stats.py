"""Unit checks of the benchmark's statistics on synthetic data.

Run: python -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (covered, geomean, median, round_total,  # noqa: E402
                   self_time, tail)


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_tail_has_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_independent():
    values = [float(i) for i in range(30)]
    assert tail(values) == tail(list(reversed(values)))
    value, pct, n = tail(values)
    assert value == 19.0 and n == 30
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([5.0, 1.0, 3.0]) == (5.0, 100.0, 3)
    assert tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)
    assert tail([float(i) for i in range(11)]) == (0.0, 100 / 11, 11)
    with pytest.raises(ValueError):
        tail([])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children():
    assert self_time((0.0, 10.0), [(1.0, 4.0), (6.0, 7.0)]) == 6.0
    # nested or overlapping children count once
    assert self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 3.0), (3.5, 5.0)]) == 6.0
    assert self_time((0.0, 1.0), [(0.0, 1.0)]) == 0.0


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    # a 10% slower kind moves it by the same share whatever the kind's size
    assert geomean([0.1, 10.0 * 1.1]) / geomean([0.1, 10.0]) == \
        pytest.approx(geomean([0.1 * 1.1, 10.0]) / geomean([0.1, 10.0]))


def test_round_total_sums_per_kind_medians():
    samples = {"a": [1.0, 3.0, 2.0], "b": [10.0], "c": []}
    assert round_total(samples) == 12.0
