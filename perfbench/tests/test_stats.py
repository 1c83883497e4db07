import pytest

import stats


def test_tail_needs_ten_beyond():
    assert stats.tail_supported(100, 0.9)
    assert not stats.tail_supported(99, 0.9)
    assert stats.tail_supported(40, 0.75)
    assert not stats.tail_supported(39, 0.75)
    with pytest.raises(ValueError):
        stats.tail(list(range(39)), 0.75)


def test_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.9) == 90
    assert stats.tail(xs, 0.9) == 90
    assert stats.percentile([5, 1, 3], 0.5) == 3
    assert stats.median([1, 2, 3, 10]) == 2.5
