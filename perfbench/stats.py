"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """The highest reported percentile with at least ten of ``n``
    samples beyond it, or None when not even the median has."""
    ok = [p for p in PERCENTILES if round(n * (100.0 - p) / 100.0, 6) >= 10]
    return ok[-1] if ok else None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles(values, n=4)``'s default method."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
