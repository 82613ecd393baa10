"""Order statistics for per-batch latencies."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` for the highest ladder percentile with at
    least ``MIN_BEYOND`` samples above it (nearest-rank), or ``None``
    when no ladder percentile qualifies — then the tail would be the
    median or closer to it and is not reported."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= MIN_BEYOND:
            return p, s[rank - 1]
    return None
