"""Statistics the benchmark reports, with the sample-support rule.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it: p50 needs 20 samples, p90 needs 100.  Percentiles use the
nearest-rank definition, so the reported value is always one of the
samples.
"""

import math
import statistics

MIN_BEYOND = 10
TAIL_LEVELS = (99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs)


def rank(n, pct):
    """1-based nearest rank of the ``pct`` percentile among ``n`` samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def supported(n, pct):
    """True when at least MIN_BEYOND of ``n`` samples lie beyond ``pct``."""
    return n - rank(n, pct) >= MIN_BEYOND


def percentile(samples, pct):
    """Nearest-rank percentile, or None when the samples cannot support it."""
    n = len(samples)
    if n == 0 or not supported(n, pct):
        return None
    return sorted(samples)[rank(n, pct) - 1]


def tail(samples):
    """(level, value) of the highest percentile the samples support, or None."""
    for level in TAIL_LEVELS:
        value = percentile(samples, level)
        if value is not None:
            return level, value
    return None


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))

