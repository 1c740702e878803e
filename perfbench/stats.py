"""Order statistics for the benchmark's reported timings."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank `q`-th percentile of `values`.

    Refuses (ValueError) a percentile with fewer than MIN_BEYOND samples
    ranked above it: such a "tail" is a handful of samples, not a tail."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q / 100.0 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {beyond} beyond it, needs {MIN_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)
