import pytest

from perfbench.stats import (cycle_rates, median, min_samples, percentile,
                             supported_quantile)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 5.0
    assert median(xs) == 3.0
    assert percentile([1.0, 2.0], 0.5) == 1.5
    assert percentile(list(range(11)), 0.9) == pytest.approx(9.0)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 1.5)


@pytest.mark.parametrize("q,n", [(0.5, 20), (0.75, 40), (0.9, 100),
                                 (0.95, 200), (0.99, 1000)])
def test_min_samples_leaves_ten_beyond(q, n):
    assert min_samples(q) == n
    assert n * (1 - q) >= 10 - 1e-9
    assert (n - 1) * (1 - q) < 10


@pytest.mark.parametrize("n,q", [(0, None), (19, None), (20, 0.5),
                                 (39, 0.5), (40, 0.75), (99, 0.75),
                                 (100, 0.9), (199, 0.9), (200, 0.95),
                                 (1000, 0.99)])
def test_supported_quantile(n, q):
    assert supported_quantile(n) == q


def test_cycle_rates_take_whole_cycles_only():
    walls = [1.0, 1.0, 0.5, 1.5, 4.0]
    assert cycle_rates(walls, [1] * 5, 2) == [1.0, 1.0]
    assert cycle_rates(walls, [20] * 5, 1) == [20.0, 20.0, 40.0,
                                                pytest.approx(40 / 3), 5.0]
    assert cycle_rates(walls[:1], [1], 2) == []
