"""Turning raw samples into the metrics the benchmark prints."""

from __future__ import annotations

import statistics

# Percentiles considered for the latency tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def _rank(pct: float, n: int) -> int:
    """Nearest rank of ``pct`` among ``n`` samples, in exact integer
    arithmetic on tenths of a percent."""
    return max(1, -(-round(pct * 10) * n // 1000))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    return float(ordered[_rank(pct, len(ordered)) - 1])


def tail_percentile(values) -> float | None:
    """The highest percentile with at least ten samples beyond it
    (p90 needs 100 samples, p99 1000), or None below 100 samples."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= MIN_BEYOND:
            return pct
    return None


def latency_summary(values) -> dict:
    """p50 always; the tail percentile only where the sample count
    supports it."""
    out = {"n": len(values), "p50": median(values)}
    pct = tail_percentile(values)
    if pct is not None:
        out[f"p{pct:g}"] = percentile(values, pct)
    return out


def mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0
