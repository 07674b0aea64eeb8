"""Summary statistics shared by every workload."""

from __future__ import annotations

import statistics
from collections.abc import Sequence

TAIL_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: Sequence[float]) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile with at least
    ``TAIL_BEYOND`` samples above it.

    With fewer than ``2 * TAIL_BEYOND + 1`` samples that percentile
    would sit below the median, so the median is reported instead; the
    percentile returned says which one was taken.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of an empty sample")
    k = n - 1 - TAIL_BEYOND
    if k < (n - 1) / 2:
        return median(s), 50.0, n
    return float(s[k]), 100.0 * (k + 1) / n, n

