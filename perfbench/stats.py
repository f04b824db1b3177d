"""The one statistic the benchmark reports, and the spread rule used to
judge whether a metric is steady from run to run."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    """Median of all timed ops of a run (the run's reported value)."""
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``
    gives them (the default 'exclusive' method)."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        raise ValueError("spread of a metric whose median is 0")
    return (q3 - q1) / abs(med)


def worse_by(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second set's median is than the first's, as a
    share of the first (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    change = (b - a) / abs(a)
    return change if better == "lower" else -change
