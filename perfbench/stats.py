"""Summary statistics the benchmark reports (pure functions)."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float]:
    """(first, third) quartile as ``statistics.quantiles(values, n=4)``
    gives them; a single sample is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict:
    """Sample count, median and quartiles of ``values``."""
    q1, q3 = quartiles(values)
    return {"n": len(values), "median": median(values), "q1": q1, "q3": q3}
