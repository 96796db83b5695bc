"""Percentiles and the ten-samples-beyond rule."""

import pytest

from stats import MIN_BEYOND, highest_reportable, iqr_share, percentile, samples_beyond


def test_p90_needs_ten_samples_beyond():
    assert MIN_BEYOND == 10
    assert percentile(list(range(99)), 90) is None
    assert samples_beyond(100, 90) == 10
    # nearest rank: the 90th of 100 sorted samples
    assert percentile(list(range(100, 0, -1)), 90) == 90


def test_median_is_reportable_from_twenty_samples():
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(1, 21)), 50) == 10


def test_highest_reportable():
    assert highest_reportable(1000) == 99
    assert highest_reportable(200) == 95
    assert highest_reportable(100) == 90
    assert highest_reportable(40) == 75
    assert highest_reportable(39) is None


def test_iqr_share():
    assert iqr_share([10.0] * 10) == 0.0
    assert iqr_share([9.0, 10.0, 11.0, 10.0, 10.0]) == pytest.approx(0.1)
