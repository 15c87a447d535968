"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value): the order statistic x[n-1-beyond] of the
    sorted samples, at percentile 100·(n-beyond)/n. None when fewer
    than ``beyond + 1`` samples exist."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, ordered[n - 1 - beyond]


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median — the driver's
    steadiness figure (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
