"""Percentiles and summaries for the benchmark's own numbers."""

from __future__ import annotations

import statistics

import numpy as np

PERCENTILE_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9, 99.99)
MIN_BEYOND = 10


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = np.asarray(values, dtype=float)
    if xs.size == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(xs, pct))


def highest_supported(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` of
    ``n`` samples above it, or None when not even the median is."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= min_beyond - 1e-9:
            best = p
    return best


def tail(values) -> dict:
    """Median, the highest supported percentile and the sample count."""
    n = len(values)
    top = highest_supported(n)
    return {
        "n": n,
        "p50": percentile(values, 50.0) if n else float("nan"),
        "top_pct": top,
        "top": percentile(values, top) if top is not None else float("nan"),
    }


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def latency_summary(values) -> dict:
    """p50 and p99 of a latency sample; p99 must have at least
    ``MIN_BEYOND`` samples beyond it, or the workload is too small."""
    t = tail(values)
    if t["top_pct"] is None or t["top_pct"] < 99.0:
        raise ValueError(f"{t['n']} latency samples cannot support a p99")
    return {"n": t["n"], "p50": t["p50"], "p99": percentile(values, 99.0)}
