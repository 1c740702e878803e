import pytest

import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(list(reversed(values)), 90) == 90


def test_percentile_refuses_thin_tail():
    # p90 of 99 samples has 9 beyond it
    with pytest.raises(ValueError, match="9 beyond"):
        stats.percentile(list(range(99)), 90)
    # p99 needs 1000 samples for 10 beyond
    with pytest.raises(ValueError):
        stats.percentile(list(range(999)), 99)
    assert stats.percentile(list(range(1000)), 99) == 989


def test_percentile_rejects_bad_q():
    with pytest.raises(ValueError):
        stats.percentile(list(range(1000)), 100)


def test_median_refuses_empty():
    with pytest.raises(ValueError):
        stats.median([])
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
