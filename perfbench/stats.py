"""Order statistics shared by the run, steadiness and report commands."""
import math
import statistics

# percentiles a tail may be reported at, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs)


def nearest_rank(sorted_xs, p):
    """The p-th percentile by nearest rank (1-based rank ceil(n*p/100))."""
    n = len(sorted_xs)
    return sorted_xs[max(1, math.ceil(n * p / 100.0)) - 1]


def tail(samples, min_beyond=10):
    """(percentile, value) for the highest percentile of LADDER that has
    at least `min_beyond` samples beyond it, or None when even the median
    has fewer.  Failed operations enter as +inf."""
    xs = sorted(samples)
    n = len(xs)
    for p in LADDER:
        beyond = n - max(1, math.ceil(n * p / 100.0))
        if beyond >= min_beyond:
            return p, nearest_rank(xs, p)
    return None


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives
    the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")
