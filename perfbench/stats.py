"""Summary statistics shared by the workloads and their tests."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0-100) with linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
