"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, int, int] | None:
    """The highest percentile that has at least 10 samples beyond it.

    Returns ``(value, percentile, n)`` by the nearest-rank rule: percentile
    ``p`` is the sample of rank ``ceil(p·n/100)``, and ``p`` is the largest
    whole number leaving ``n − rank ≥ 10`` samples above it. Fewer than 11
    samples support no such percentile: ``None``.
    """
    n = len(xs)
    p = (100 * (n - 10)) // n if n else 0
    if p < 1:
        return None
    rank = math.ceil(p * n / 100)
    return sorted(xs)[rank - 1], p, n


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
