"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, lowest first
TAIL_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
#: a tail percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples (the
    epsilon keeps 99.9 % of 10000 at 9990, not 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


def tail_level(n: int) -> float | None:
    """The highest percentile of :data:`TAIL_LADDER` that leaves at least
    :data:`MIN_BEYOND` of ``n`` samples beyond it, or None when even the
    median does not."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def summary(samples: list[float]) -> dict:
    """Median plus the highest percentile the sample count supports."""
    out: dict = {"n": len(samples)}
    if not samples:
        return out
    out["p50"] = statistics.median(samples)
    level = tail_level(len(samples))
    if level is not None:
        out["tail_level"] = level
        out["tail"] = percentile(samples, level)
    return out
