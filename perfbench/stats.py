"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile. Refuses (ValueError) when fewer
    than ``MIN_BEYOND`` samples lie beyond it: a tail percentile read
    off a handful of samples is noise, not a measurement."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(samples)
    rank = math.ceil(q / 100.0 * n)
    beyond = n - rank
    if rank < 1 or beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; {n} samples leave {max(beyond, 0)}"
        )
    return float(sorted(samples)[rank - 1])
