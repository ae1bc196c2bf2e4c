"""The percentile helper: the highest percentile with at least ten
samples beyond it, reported with the sample count."""

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (19, None), (20, 50.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (9999, 99.0), (10_000, 99.9), (100_000, 99.99)],
)
def test_highest_supported(n, want):
    assert stats.highest_supported(n) == want


def test_tail_reports_count_and_supported_percentile():
    xs = list(range(1, 1001))
    t = stats.tail(xs)
    assert t["n"] == 1000
    assert t["top_pct"] == 99.0
    assert t["p50"] == pytest.approx(500.5)
    assert t["top"] == pytest.approx(np.percentile(xs, 99))


def test_tail_of_small_sample_has_no_top():
    t = stats.tail([3.0] * 5)
    assert t["top_pct"] is None
    assert t["n"] == 5


def test_latency_summary_refuses_unsupported_p99():
    with pytest.raises(ValueError):
        stats.latency_summary(list(range(999)))
    s = stats.latency_summary(list(range(1000)))
    assert s["n"] == 1000
    assert s["p99"] == pytest.approx(np.percentile(range(1000), 99))


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=777)
    for p in (0, 25, 50, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))
