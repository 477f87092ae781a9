"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def min_samples_for(pct: float) -> int:
    """Fewest samples for which ``pct`` has MIN_BEYOND samples above it."""
    return math.ceil(MIN_BEYOND / (1.0 - pct / 100.0) - 1e-9)


def tail(values: list[float], pct: float) -> float:
    """Nearest-rank ``pct`` percentile, refused unless at least MIN_BEYOND
    samples lie beyond it."""
    n = len(values)
    rank = math.ceil(pct / 100.0 * n)  # 1-based nearest rank
    if n == 0 or n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} needs {min_samples_for(pct)} samples, got {n}")
    return float(sorted(values)[rank - 1])
