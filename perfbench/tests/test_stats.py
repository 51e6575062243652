import pytest

from perfbench import stats


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile(list(range(100)), 95)  # 5 samples beyond p95
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)  # 9 samples beyond p90
    assert stats.percentile(list(range(200)), 95) == 189.0  # exactly 10 beyond
    assert stats.percentile(list(range(110)), 90) == 98.0


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 3.0] + [10.0] * 30
    assert stats.percentile(xs, 50) == 10.0
    assert stats.percentile(list(range(1, 101)), 50) == 50.0


def test_median():
    assert stats.median([3, 1, 2]) == 2.0
    assert stats.median([4, 1, 2, 3]) == 2.5
