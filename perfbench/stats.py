"""Latency statistics of the benchmark.

A timing is reported as its median and its tail: the highest whole
percentile that still has at least ten samples beyond it (nearest-rank).
With too few samples for any percentile above the median there is no tail,
and `tail()` returns None instead of inventing one.
"""

import math
import statistics

MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of the samples."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(xs):
    if not xs:
        raise ValueError("no samples")
    return statistics.median(xs)


def tail_percentile(n, min_beyond=MIN_BEYOND):
    """Highest whole percentile above 50 with at least `min_beyond` of `n`
    samples beyond it, or None."""
    if n <= 0:
        return None
    p = min(99, (100 * (n - min_beyond)) // n)
    return p if p > 50 else None


def tail(xs, min_beyond=MIN_BEYOND):
    """(percentile, value) of the tail, or None when the samples are too
    few to support any percentile above the median."""
    p = tail_percentile(len(xs), min_beyond)
    return None if p is None else (p, percentile(xs, p))


def summary(xs):
    """Median and tail of one class of operations, with the sample count."""
    t = tail(xs)
    return {"n": len(xs), "p50": median(xs),
            "tail_pct": t[0] if t else None, "tail": t[1] if t else None}
