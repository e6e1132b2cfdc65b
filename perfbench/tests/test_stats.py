import statistics

import pytest

from stats import covered, median, percentile, quartile_spread, self_time, summarize, tail_percentile


def test_median_of_even_and_odd_counts():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(11)]  # 0..10
    assert percentile(xs, 0) == 0.0
    assert percentile(xs, 50) == 5.0
    assert percentile(xs, 95) == pytest.approx(9.5)
    assert percentile(xs, 100) == 10.0


@pytest.mark.parametrize("n, want", [
    (1, None), (19, None), (39, None),   # fewer than 10 samples beyond p75
    (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond_it(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_count_median_and_supported_tail():
    assert summarize([2.0, 1.0, 3.0]) == {"n": 3, "p50": 2.0}
    s = summarize([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5 and "p75" in s and "p90" not in s


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_self_time_subtracts_the_union_of_children():
    # overlapping children count once; the part outside the span not at all
    kids = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (20.0, 21.0)]
    assert covered((0.0, 10.0), kids) == pytest.approx(4.0)
    assert self_time((0.0, 10.0), kids) == pytest.approx(6.0)
    assert self_time((0.0, 10.0), []) == 10.0
