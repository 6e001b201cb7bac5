"""The Harrell-Davis median, the tail rule and ok_rate."""

import statistics

import pytest

import stats


def test_median_of_a_symmetric_sample_is_its_centre():
    assert stats.median([5.0, 1.0, 9.0]) == pytest.approx(5.0)
    assert stats.median([float(i) for i in range(1, 21)]) == pytest.approx(10.5)


def test_median_weights_are_beta_masses():
    # n = 3: Beta(2, 2) puts 7/27, 13/27 and 7/27 on the thirds of [0, 1]
    assert stats.median([0.0, 0.0, 1.0]) == pytest.approx(7 / 27, abs=1e-9)


def test_median_moves_less_than_the_plain_median_when_a_middle_op_moves():
    before = [1.0] * 16 + [1.5] + [2.0] * 16
    after = [1.0] * 16 + [2.0] + [2.0] * 16
    plain = statistics.median(after) - statistics.median(before)
    assert plain == pytest.approx(0.5)
    assert 0 < stats.median(after) - stats.median(before) < plain / 2


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 34)]  # 1..33
    value, pct, n = stats.tail(xs)
    assert n == 33
    assert pct == pytest.approx(100 * 23 / 33)
    assert value == 23.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_tail_of_twenty_is_the_lower_median():
    xs = [float(i) for i in range(20)]
    assert stats.tail(xs) == (9.0, 50.0, 20)


def test_tail_refuses_a_sample_that_cannot_support_it():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_ok_rate_counts_every_attempt():
    assert stats.ok_rate([True, True, False, True]) == 0.75
    with pytest.raises(ValueError):
        stats.ok_rate([])
