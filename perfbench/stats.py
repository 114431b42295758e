"""Order statistics for the benchmark report."""

from __future__ import annotations

import math
import statistics

# Percentiles the report may quote beside a median, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10  # samples that must lie beyond a quoted percentile


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (0-100) by linear interpolation between
    closest ranks; the 50th is the median."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def summarize(values) -> dict:
    """Median, sample count and, where enough samples exist, the highest
    tail percentile that has ten samples beyond it."""
    xs = list(values)
    out = {"median": statistics.median(xs), "n": len(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p:g}"] = percentile(xs, p)
    return out
