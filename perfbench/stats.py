"""Summary statistics and span arithmetic, free of Spark so the
benchmark's own tests can exercise them directly."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: samples that must lie beyond the tail percentile
TAIL_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p * len(xs) / 100))
    return float(sorted(xs)[rank - 1])


def tail(xs: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """The highest whole percentile that has at least ``beyond`` samples
    above it, by nearest rank, but never below the median.

    Returns ``(value, percentile, n)``. With ``n`` samples the percentile
    is ``floor(100 * (n - beyond) / n)``: 20 samples give p50, 100 give
    p90 and 1000 give p99. Below 20 samples no percentile at or above
    the median has ``beyond`` samples above it, and the median (p50) is
    returned."""
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    p = max(50, (100 * (n - beyond)) // n)
    return percentile(xs, p), p, n


def interpolate(samples: Sequence[tuple[float, float]], t: float) -> float:
    """The value at ``t`` of a quantity sampled as time-ordered
    ``(time, value)`` pairs, interpolated linearly between the samples
    around ``t``."""
    for (t0, v0), (t1, v1) in zip(samples, samples[1:]):
        if t0 <= t <= t1:
            return v0 + (v1 - v0) * (t - t0) / (t1 - t0) if t1 > t0 else v1
    raise ValueError(f"time {t} is outside the samples")


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children are clipped to the span and overlapping children count
    once, so two concurrent writes inside one epoch are not subtracted
    twice."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)
