"""Latency summaries: median plus the highest percentile the samples support."""

from __future__ import annotations

import math

LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the p-th percentile."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def supported_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it, or None when not even the median has that many."""
    best = None
    for p in LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default, Hyndman-Fan 7)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
