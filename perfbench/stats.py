"""Order statistics for timing samples."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of p75/p90/p99/p99.9 that leaves at least ten samples above
    it; None below forty samples, where no percentile would be a tail."""
    best = None
    for q in (75.0, 90.0, 99.0, 99.9):
        if n >= 40 and n * (1 - q / 100.0) >= 10 - 1e-9:
            best = q
    return best


def summary(values: list[float]) -> dict:
    """Sample count, median, and the tail percentile the count supports."""
    out = {"n": len(values), "p50": percentile(values, 50)}
    q = tail_percentile(len(values))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out

