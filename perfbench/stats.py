"""Small order statistics used by every workload."""

from __future__ import annotations

import math


def pct(values, q: float) -> float:
    """The ``q``-th percentile (0-100) with linear interpolation
    between closest ranks; 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


def trimmed_mean(values, cut: float = 0.1) -> float:
    """Mean of the values left after dropping the lowest and highest
    ``cut`` share; 0.0 for no values. Unlike the median it moves
    smoothly when the values fall into two clusters, and unlike the
    mean one stall does not carry it."""
    v = sorted(values)
    k = int(len(v) * cut)
    v = v[k:len(v) - k]
    return sum(v) / len(v) if v else 0.0
