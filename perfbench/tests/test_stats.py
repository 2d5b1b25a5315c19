"""Tail-percentile rule and spread."""

import pytest

from perfbench.stats import median, spread, tail


def test_tail_needs_eleven_samples():
    assert tail(list(range(10))) is None
    assert tail([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_small_sample_falls_back_to_a_lower_percentile():
    value, pct, n = tail([float(v) for v in range(20)])  # n=20 -> 10th smallest
    assert (value, pct, n) == (9.0, 50.0, 20)


def test_tail_is_order_insensitive():
    values = [3.0, 9.0, 1.0, 7.0, 5.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert tail(values) == tail(sorted(values)) == (1.0, pytest.approx(100 * 2 / 12), 12)


def test_median_and_spread():
    assert median([]) is None
    assert median([3, 1, 2]) == 2
    assert spread([10.0] * 4) == 0.0
    assert spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx((11.5 - 8.5) / 10.0)
