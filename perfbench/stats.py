"""Percentiles with their sample counts.

A tail percentile is reported only together with how many samples lie
beyond it: a p90 over 30 samples rests on 3 values, which is why the report
keeps ``n`` and ``beyond`` next to every timing.
"""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile
    position."""
    return n - math.ceil(n * p / 100.0)


def highest_supported(n: int, candidates=(50, 90, 99, 99.9),
                      min_beyond: int = 10) -> float | None:
    """The highest candidate percentile with at least ``min_beyond`` samples
    beyond it, or None when even the median lacks them."""
    ok = [p for p in candidates if samples_beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def summary(values_ms: list[float]) -> dict:
    """Median and p90 with sample counts; empty input gives ``n == 0``."""
    n = len(values_ms)
    if n == 0:
        return {"n": 0}
    return {
        "n": n,
        "p50": percentile(values_ms, 50),
        "p90": percentile(values_ms, 90),
        "p90_beyond": samples_beyond(n, 90),
        "highest_supported": highest_supported(n),
    }


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the median,
    as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / q2 if q2 else float("inf")}
