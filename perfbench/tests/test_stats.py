"""The percentile rule (report the highest percentile with at least ten
samples beyond it), spreads, and taking the host's CPU steal out of a
wall time."""

import pytest

from stats import percentile, samples_beyond, spread, supported_percentile, unstolen


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(xs, 75) == pytest.approx(3.25)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_samples_beyond_counts_strictly_higher_ranks():
    assert samples_beyond(21, 50) == 10
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(19, 50) == 9
    assert samples_beyond(41, 75) == 10


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50), (37, 50), (38, 75), (101, 90), (201, 95), (1001, 99)],
)
def test_supported_percentile_leaves_ten_beyond(n, want):
    got = supported_percentile(n)
    assert got == want
    if got is not None:
        assert samples_beyond(n, got) >= 10


def test_spread_is_interquartile_share_of_median():
    assert spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    # statistics.quantiles(n=4), exclusive method: 2.75, 5.5, 8.25
    assert spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_unstolen_scales_by_the_share_of_wanted_cpu_received():
    # no steal, or no CPU wanted at all: the wall time as measured
    assert unstolen(5.0, busy=10.0, steal=0.0) == 5.0
    assert unstolen(5.0, busy=0.0, steal=0.0) == 5.0
    # a quarter of the wanted CPU time stolen: the work ran at 3/4 speed
    assert unstolen(8.0, busy=12.0, steal=4.0) == pytest.approx(6.0)
