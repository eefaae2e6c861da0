"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so p90 needs 100 samples and the median 20.
MIN_TAIL_SAMPLES = 10


class TooFewSamples(ValueError):
    pass


def min_samples(p: float) -> int:
    """Fewest samples for which percentile ``p`` (0 < p < 100) has
    ``MIN_TAIL_SAMPLES`` samples above it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be inside (0, 100), got {p}")
    return math.ceil(MIN_TAIL_SAMPLES * 100 / (100 - p) - 1e-9)


def percentile(values: list[float], p: float) -> float:
    """Percentile ``p`` of ``values`` by linear interpolation between
    closest ranks; refuses a sample too small to have
    ``MIN_TAIL_SAMPLES`` samples beyond it."""
    need = min_samples(p)
    if len(values) < need:
        raise TooFewSamples(f"p{p:g} needs at least {need} samples, got {len(values)}")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)
