"""Medians and the tail-percentile rule for the benchmark's timings."""

from __future__ import annotations

import statistics

# percentiles a tail report may use, lowest first
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def highest_reportable_percentile(
    n_samples: int, min_beyond: int = 10, candidates=TAIL_CANDIDATES
) -> float | None:
    """The highest candidate percentile that still has at least
    ``min_beyond`` samples above it, or None when not even the median
    does. With n samples, n * (1 - p/100) of them lie beyond p."""
    best = None
    for p in candidates:
        if n_samples * (1.0 - p / 100.0) >= min_beyond - 1e-9:
            best = p
    return best
