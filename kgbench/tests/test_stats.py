import statistics

import pytest

from kgbench import stats


def test_median_and_quartiles_match_statistics():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    assert stats.median(vals) == 4.0
    q1, q2, q3 = stats.quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)


def test_single_value_is_its_own_quartiles():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_empty_samples_are_rejected():
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.quartiles([])


def test_tail_percentile_leaves_ten_samples_beyond():
    vals = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail_percentile(vals)
    assert n == 100
    assert value == 90  # 91..100 are the ten samples beyond it
    assert pct == 90.0
    assert sum(v > value for v in vals) == 10


def test_tail_percentile_smallest_sample():
    value, pct, n = stats.tail_percentile(range(11))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_percentile_rejects_small_and_empty_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile([])
    with pytest.raises(ValueError):
        stats.tail_percentile(range(10))


def test_self_time_subtracts_union_of_children():
    # children overlap (2-5 and 4-6) and one sticks out past the span end
    assert stats.self_time((0, 10), [(2, 5), (4, 6), (9, 12)]) == pytest.approx(5.0)


def test_self_time_without_children_is_the_span():
    assert stats.self_time((1.5, 4.0), []) == pytest.approx(2.5)


def test_self_time_ignores_children_outside_the_span():
    assert stats.self_time((0, 1), [(2, 3), (-3, -1)]) == pytest.approx(1.0)


def test_self_time_rejects_inverted_span():
    with pytest.raises(ValueError):
        stats.self_time((2, 1), [])
