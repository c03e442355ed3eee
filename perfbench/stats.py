"""Summary statistics used by the benchmark's report."""

from __future__ import annotations

import math
import statistics

# Percentiles a tail may be reported at, lowest first.
LADDER = (50, 55, 60, 65, 70, 75, 80, 85, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values) -> tuple[float, float, int]:
    """``(percentile, value, samples_beyond)`` for the highest ladder
    percentile that has at least ``MIN_BEYOND`` samples strictly above
    it. With too few samples for any (fewer than 2 * MIN_BEYOND), the
    tail is the maximum, reported as percentile 100 with 0 beyond."""
    for p in reversed(LADDER):
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= MIN_BEYOND:
            return float(p), v, beyond
    return 100.0, max(values), 0


def median(values) -> float:
    return statistics.median(values)


def recall(found, truth) -> float:
    """Share of ``truth`` present in ``found``."""
    truth = set(truth)
    if not truth:
        raise ValueError("recall against an empty truth set")
    return len(truth & set(found)) / len(truth)


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
