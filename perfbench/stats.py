"""Statistics helpers of the benchmark."""

import statistics


def median(values):
    """Median of a non-empty sequence; 0.0 for an empty one."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(list(values), n=4)
    return q1, q2, q3


def tail(values, beyond=10):
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile)``: the order statistic at rank
    ``n - beyond`` (1-based) of the sorted samples, which has exactly
    ``beyond`` samples above it, and the percentile that rank is,
    ``100 * rank / n``. With ``beyond`` samples or fewer there is no such
    percentile and the result is ``(None, None)``.
    """
    xs = sorted(values)
    rank = len(xs) - beyond
    if rank < 1:
        return None, None
    return xs[rank - 1], 100.0 * rank / len(xs)


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals; empty
    or inverted intervals cover nothing."""
    total, end = 0.0, None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
