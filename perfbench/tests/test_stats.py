"""The benchmark's own arithmetic on tiny fixtures."""

import statistics

import pytest

from perfbench.stats import (covered, median, quartile_spread, self_times,
                             tail, union_length)


def test_tail_takes_eleventh_largest_with_its_percentile():
    xs = list(range(1, 21))            # 20 samples, shuffled order is fine
    value, pct, met = tail(reversed(xs))
    assert value == 10                 # 10 samples (11..20) lie beyond it
    assert pct == 50.0
    assert met


def test_tail_needs_more_than_ten_samples():
    value, pct, met = tail([3.0, 1.0, 2.0])
    assert (value, pct, met) == (3.0, 100.0, False)
    value, pct, met = tail(list(range(11)))
    assert (value, met) == (0, True)
    with pytest.raises(ValueError):
        tail([])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10, 11, 9, 12, 10, 10.5, 9.5, 11.5, 10, 10]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / median(xs))


def test_union_and_covered():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert covered((1, 5.5), [(0, 2), (1, 3), (5, 6)]) == 2.5


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two concurrent children overlapping on [3, 4]
        {"id": 2, "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 3, "start": 3.0, "end": 5.0},
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 4)   # children cover [2, 6]
    assert own[2] == pytest.approx(2)
    assert own[3] == pytest.approx(1)        # grandchild is not subtracted twice
    assert own[4] == pytest.approx(2)
