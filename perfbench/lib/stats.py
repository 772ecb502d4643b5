"""Order statistics shared by the runner and the comparator."""
import math
import statistics

# Candidate tail percentiles, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def _rank(p, n):
    # rounding first keeps float noise (0.999 * 10000) off the ceiling
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail(values):
    """The highest ladder percentile that has at least ten samples
    beyond it, as (value, percentile, n); None when n is too small for
    any (fewer than 20 samples)."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            best = (percentile(values, p), p, n)
    return best


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")
