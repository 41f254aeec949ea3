"""Summary statistics for per-op timings."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def gmean(values) -> float:
    """Geometric mean of positive values."""
    values = list(values)
    return math.exp(sum(map(math.log, values)) / len(values))


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``beyond``
    samples above it: ``(percentile, value, n)``, or None when there
    are too few samples for any.

    With ``n`` sorted samples the value at 0-based index ``n - beyond
    - 1`` has exactly ``beyond`` samples after it; its percentile is
    the share of samples at or below it."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return 100.0 * (idx + 1) / n, ordered[idx], n
