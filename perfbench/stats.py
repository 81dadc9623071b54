"""Summaries the benchmark reports: medians and the tail percentile a
sample can support."""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def nearest_rank(values: list[float], p: float) -> float:
    """The smallest sample with at least ``p`` percent of samples at or
    below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile on ``TAIL_LADDER`` with at
    least ``MIN_BEYOND`` samples ranked beyond it, or None when the
    sample is too small for any of them (fewer than 40 samples)."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p * n / 100) >= MIN_BEYOND:
            return p, nearest_rank(values, p)
    return None

