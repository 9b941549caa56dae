"""Order statistics for the benchmark's reported timings.

A tail percentile is only reported when at least ten samples lie beyond
it; with fewer samples the "p90" of a run is really its maximum and moves
with a single outlier.
"""

from __future__ import annotations

import math

# candidate tails, widest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the p-th percentile rank."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of TAIL_LADDER with at least MIN_BEYOND samples
    beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the valid tail (if any) and the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_p"] = tail
        out["tail"] = percentile(values, tail)
    return out
