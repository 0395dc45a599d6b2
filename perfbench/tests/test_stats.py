"""The percentile rule: report the highest percentile with >=10 samples beyond it."""

from __future__ import annotations

import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile(n, expected):
    assert stats.supported_percentile(n) == expected


def test_samples_beyond():
    assert stats.samples_beyond(100, 90.0) == 10
    assert stats.samples_beyond(99, 90.0) == 9
    assert stats.samples_beyond(20, 50.0) == 10


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.median(xs) == 2.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(list(range(101)), 90) == 90.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
