"""Summary statistics shared by the harness and its tests."""

from __future__ import annotations

import statistics

import numpy as np

MIN_BEYOND = 10


def effective_percentile(n: int, pct: float) -> float:
    """The percentile actually reported for ``pct`` over ``n`` samples:
    ``pct`` itself when at least ``MIN_BEYOND`` samples lie beyond it,
    else the highest percentile that still has that many, and never
    below the median (a tail figure resting on fewer samples is noise)."""
    if n <= 0:
        raise ValueError("no samples")
    highest = 100.0 * (1.0 - MIN_BEYOND / n)
    return max(50.0, min(pct, highest))


def tail(values: list[float], pct: float) -> tuple[float, float]:
    """(value, percentile used) for a tail percentile under the
    ``MIN_BEYOND`` rule of `effective_percentile`."""
    used = effective_percentile(len(values), pct)
    return float(np.percentile(values, used)), used


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
