"""Summary statistics shared by the workloads.

The percentile rule follows the benchmark method: a timing is reported as a
median plus the highest percentile that has at least ten samples beyond it.
"""

from __future__ import annotations

import math
import statistics

# Samples that must lie beyond a reported percentile.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` beyond the
    ``q``-th percentile."""
    return n - math.ceil(q / 100.0 * n) >= MIN_BEYOND


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)
