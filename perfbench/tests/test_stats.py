"""The tail-percentile rule and the median."""

import pytest

from perfbench import stats


@pytest.mark.parametrize("n, want", [
    (4, None),      # even the median has only 2 samples beyond it
    (19, None),     # 9.5 beyond the median
    (20, 50.0),     # exactly 10 beyond the median
    (40, 75.0),
    (100, 90.0),
    (199, 90.0),    # p95 would have 9.95 beyond
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_highest_reportable_percentile(n, want):
    assert stats.highest_reportable_percentile(n) == want


def test_percentile_rule_counts_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    p = stats.highest_reportable_percentile(len(xs))
    # nearest-rank value of the p-th percentile, and the samples above it
    value = sorted(xs)[int(p * len(xs) / 100) - 1]
    assert len([x for x in xs if x > value]) >= 10
    nxt = [c for c in stats.TAIL_CANDIDATES if c > p][0]
    value = sorted(xs)[int(nxt * len(xs) / 100) - 1]
    assert len([x for x in xs if x > value]) < 10


def test_median_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.median([])
