import statistics

import pytest

from stats import median, quartile_spread, tail_percentile


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_quartile_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.3]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)
    assert quartile_spread([5.0] * 10) == 0.0


def test_median_of_nothing_is_zero():
    assert median([]) == 0.0
    assert median([3.0, 1.0, 2.0]) == 2.0
