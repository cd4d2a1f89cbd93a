"""Percentiles with the benchmark's sample-count rule."""

from __future__ import annotations

import math


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, beyond: int = 10) -> int:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    above it; 50 (the median) when ``n`` is too small for any tail."""
    if n <= 0:
        raise ValueError("no samples")
    p = math.floor(100 * (1 - beyond / n))
    return max(50, p)


def median_and_tail(values: list[float]) -> dict:
    """Median, tail value and the percentile the tail is, with the count."""
    p = tail_pct(len(values))
    return {"p50": percentile(values, 50), "tail": percentile(values, p),
            "tail_pct": p, "n": len(values)}
