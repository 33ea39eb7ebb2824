import pytest

from perfbench import stats


def test_percentile_picks_the_nearest_rank_sample():
    values = [7, 1, 10, 3, 2, 9, 4, 8, 6, 5]
    assert stats.percentile(values, 50) == 5
    assert stats.percentile(values, 90) == 9
    assert stats.percentile(values, 91) == 10
    assert stats.percentile(values, 100) == 10
    assert stats.percentile(values, 10) == 1
    assert stats.percentile([42.0], 90) == 42.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_median_and_geomean():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
