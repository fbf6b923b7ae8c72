"""Order statistics shared by the benchmark and its repeat mode."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, as numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spread(values) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median, with the quartiles of ``statistics.quantiles(values, n=4)``."""
    xs = list(values)
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0]
    return {
        "n": len(xs),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("nan"),
    }
