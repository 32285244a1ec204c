"""Summary statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

# The tail reported next to a median: the highest percentile that
# still has this many samples beyond it, so it is never read off one
# or two outliers.
TAIL_SAMPLES = 10


def tail_percentile(n: int, beyond: int = TAIL_SAMPLES) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n``
    samples above it (n·(100−p)/100 ≥ beyond), or None when n is too
    small for any."""
    if n <= beyond:
        return None
    return min(99, math.floor(100 - 100 * beyond / n + 1e-9))


def percentile(values: list[float], p: int) -> float:
    """p-th percentile (1..99), as ``statistics.quantiles`` cuts it."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100)[p - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
