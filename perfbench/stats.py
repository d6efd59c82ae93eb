"""Small statistics helpers used by the benchmark and its stability check.

Kept free of Spark and of the library so the tests can run them alone.
"""

from __future__ import annotations

import math
import statistics

# Percentiles the benchmark may report, highest last.
_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def highest_supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest reportable percentile that leaves at least ``beyond``
    samples above it, or None when not even the median does."""
    best = None
    for p in _PERCENTILES:
        # tolerance: 100 - 99.9 is not exact in binary floating point
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            best = p
    return best


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles from ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf


def ratio(num: float, den: float) -> float:
    """num / den, with 0 when there is nothing to divide by."""
    return num / den if den else 0.0
