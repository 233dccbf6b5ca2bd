"""Order statistics used by the runner and the steadiness tool."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int) -> float | None:
    """The highest percentile (0-100) of ``n`` samples that has at
    least ``TAIL_BEYOND`` samples beyond it, or None when ``n`` is
    under ``2 * TAIL_BEYOND`` (the answer would be the median)."""
    if n < 2 * TAIL_BEYOND:
        return None
    return 100.0 * (n - TAIL_BEYOND) / n


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for :func:`tail_percentile`; the value is
    the smallest sample with no more than ``TAIL_BEYOND`` samples
    above it, i.e. the (n - TAIL_BEYOND)-th order statistic."""
    pct = tail_percentile(len(values))
    if pct is None:
        return None
    ordered = sorted(values)
    return pct, float(ordered[len(ordered) - TAIL_BEYOND - 1])


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles (``statistics.quantiles(n=4)``), min, max and
    the inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "iqr_share": (q3 - q1) / med if med else math.inf,
    }
