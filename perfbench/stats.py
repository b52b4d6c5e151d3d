"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only with at least this many samples
#: beyond it.
TAIL_SAMPLES_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest percentile (0-100) that still has at least
    :data:`TAIL_SAMPLES_BEYOND` of ``n`` samples beyond it, on the
    nearest-rank scale; None when ``n`` is too small for one at or above
    the median."""
    if n < 2 * TAIL_SAMPLES_BEYOND:
        return None
    return 100.0 * (n - TAIL_SAMPLES_BEYOND) / n


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the nearest-rank value at
    :func:`tail_percentile`, which has exactly ``TAIL_SAMPLES_BEYOND``
    samples above it in sorted order. Falls back to the maximum (the
    100th percentile) for fewer samples."""
    n = len(values)
    pct = tail_percentile(n)
    ordered = sorted(values)
    if pct is None:
        return 100.0, ordered[-1]
    rank = math.ceil(pct / 100.0 * n - 1e-9)  # 1-based nearest rank
    return pct, ordered[rank - 1]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, the steadiness
    measure of repeated runs."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
