import pytest

import stats


def test_percentile_interpolates():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5


def test_tail_keeps_ten_samples_beyond():
    assert stats.tail_pct(100) == 90
    assert stats.tail_pct(1000) == 99
    assert stats.tail_pct(250) == 96
    for n in (20, 37, 100, 999):
        p = stats.tail_pct(n)
        assert n * (1 - p / 100) >= 10 - 1e-9


def test_tail_falls_back_to_median_when_few_samples():
    assert stats.tail_pct(5) == 50
    assert stats.tail_pct(19) == 50
    out = stats.median_and_tail([3.0, 1.0, 2.0])
    assert out == {"p50": 2.0, "tail": 2.0, "tail_pct": 50, "n": 3}


def test_no_samples_rejected():
    with pytest.raises(ValueError):
        stats.tail_pct(0)
