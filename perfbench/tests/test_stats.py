"""The percentile rule: report the highest percentile with at least ten
samples beyond it."""

import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, p",
    [
        (19, None),
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile(n, p):
    assert stats.tail_percentile(n) == p


def test_nearest_rank_is_an_observed_sample():
    xs = list(range(1, 101))
    assert stats.nearest_rank(xs, 50) == 50
    assert stats.nearest_rank(xs, 90) == 90
    assert stats.nearest_rank(xs, 0) == 1
    assert stats.nearest_rank([3.0, 1.0, 2.0], 50) == 2.0


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])
