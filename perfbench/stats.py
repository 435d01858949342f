"""Order statistics of the benchmark and its steadiness runs."""

from __future__ import annotations

import statistics

#: Samples that must lie strictly above the tail order statistic.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile)``: the ``(n - beyond)``-th smallest sample
    and its rank as a percentile of ``n``. With fewer than ``beyond + 1``
    samples there is no such percentile and the maximum is returned with
    percentile 100, so callers must size their sample (see README)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= beyond:
        return xs[-1], 100.0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median (the steadiness figure)."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")

