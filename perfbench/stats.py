"""Order statistics shared by run.py and compare.py (stdlib only)."""

import math
import statistics

# Tail percentiles, highest first. A tail is reported at the highest one
# that leaves at least TAIL_BEYOND samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def _rank(pct, n):
    # the epsilon keeps float error (99.9 / 100 * 10000 = 9990.000000000002)
    # from pushing an exact rank up by one
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


def nearest_rank(sorted_values, pct):
    """The pct-th percentile by nearest rank of an ascending list."""
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


def p50(values):
    return statistics.median(values) if values else None


def tail(values):
    """(value, percentile, n) at the highest ladder percentile with at
    least TAIL_BEYOND samples beyond it; (None, None, n) if none has."""
    xs = sorted(values)
    n = len(xs)
    for pct in TAIL_LADDER:
        rank = _rank(pct, n)
        if n - rank >= TAIL_BEYOND:
            return xs[rank - 1], pct, n
    return None, None, n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else None
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    if med in (None, 0):
        return None
    return (q3 - q1) / abs(med)
