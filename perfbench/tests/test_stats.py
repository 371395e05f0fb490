import statistics

import pytest

from perfbench.stats import median, percentile, rate, ratio, self_time


def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    assert percentile([7.0], 90) == 7.0


def test_median_matches_statistics():
    for xs in ([3.0, 1.0, 2.0], [4.0, 1.0, 3.0, 2.0], [2.5]):
        assert median(xs) == statistics.median(xs)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_rate_and_ratio():
    assert rate(1500, 3.0) == 500.0
    with pytest.raises(ValueError):
        rate(10, 0.0)
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0


def test_self_time_subtracts_union_of_children():
    # children overlap each other and one sticks out of the parent
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    assert self_time((0.0, 10.0), [(8.0, 12.0), (-1.0, 1.0)]) == pytest.approx(7.0)
    assert self_time((0.0, 10.0), [(4.0, 4.0), (5.0, 6.0)]) == pytest.approx(9.0)
