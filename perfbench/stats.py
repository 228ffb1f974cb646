"""Summary statistics of the benchmark's samples."""
import statistics


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail_percentile(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (percentile, value), by the nearest-rank rule; None when there are
    too few samples for any."""
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond                     # samples at or below the value
    pct = 100.0 * rank / n
    return pct, sorted(xs)[rank - 1]


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as `statistics.quantiles(n=4)`."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)
