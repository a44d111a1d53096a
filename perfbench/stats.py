"""Summary statistics shared by every workload.

A timing is reported as a median plus a *tail*: the highest percentile
that still has at least ``TAIL_MIN_BEYOND`` samples beyond it, so a
tail is never read off one or two outliers.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int:
    """Highest whole percentile p with at least ``min_beyond`` of ``n``
    samples strictly above the p-th percentile's rank, or 50 (the
    median) when there are too few samples for any higher one."""
    best = 50
    for p in range(51, 100):
        rank = math.ceil(p / 100 * n)  # nearest-rank index, 1-based
        if n - rank >= min_beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (a value that was actually measured)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    rank = max(1, math.ceil(p / 100 * len(vals)))
    return vals[rank - 1]


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it) under the tail rule."""
    vals = list(values)
    p = tail_percentile(len(vals), min_beyond)
    beyond = len(vals) - math.ceil(p / 100 * len(vals)) if vals else 0
    if p == 50:  # too few samples for a tail: report the median itself
        return median(vals), p, beyond
    return percentile(vals, p), p, beyond


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def spread(values) -> float:
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(list(values), n=4)
    return (q3 - q1) / statistics.median(values)
