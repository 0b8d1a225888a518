"""The percentile helper and its sample-count rule."""

import pytest

from stats import median, percentile, resolvable, samples_beyond


def test_percentile_matches_linear_interpolation():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert percentile(xs, 50) == 25.0
    assert percentile(xs, 90) == pytest.approx(37.0)
    assert percentile(xs, 0.0001) == pytest.approx(10.0, abs=1e-3)
    assert percentile([5.0], 90) == 5.0


def test_percentile_ignores_input_order():
    assert percentile([3.0, 1.0, 2.0], 50) == median([1.0, 2.0, 3.0]) == 2.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_p90_needs_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert resolvable(100, 90)
    assert not resolvable(99, 90)
    assert resolvable(20, 50)
    assert not resolvable(19, 50)
