"""The percentile rule and the spread statistic."""

from __future__ import annotations

import statistics

import pytest

from perfbench.common import percentile, quartile_spread, summarize, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (9, None), (99, None), (100, 90.0), (999, 90.0), (1_000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_p90_omitted_below_100_samples():
    assert set(summarize([float(i) for i in range(99)])) == {"n", "p50"}
    out = summarize([float(i) for i in range(100)])
    assert out["n"] == 100 and out["p50"] == 49.5
    assert out["p90"] == pytest.approx(89.1)


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 50) == statistics.median(xs)
    assert percentile(xs, 100) == 10.0


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
