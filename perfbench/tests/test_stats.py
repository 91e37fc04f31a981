import pytest

from perfbench import stats


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_ten_samples_beyond_rule():
    # p90 needs ten samples above it: 100 samples leave exactly ten
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert stats.supported(20, 50) and not stats.supported(19, 50)
    for q, n in ((50, 20), (90, 100), (99, 1000)):
        xs = list(range(n))
        assert sum(x > stats.percentile(xs, q) for x in xs) == stats.MIN_BEYOND


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])
