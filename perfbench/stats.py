"""Statistics shared by the launcher and the compare tool."""

import math
import statistics

INF = float("inf")


def percentile(values, p):
    """Linear-interpolation percentile, p in 0..100 (numpy's default rule).

    Infinite values (failed operations) sort last, so a percentile that
    lands on or between them is infinite.
    """
    xs = sorted(values)
    if not xs:
        return math.nan
    r = (len(xs) - 1) * p / 100.0
    lo = math.floor(r)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == INF:
        return INF if r > lo or xs[lo] == INF else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def supported(n, p, beyond=10):
    """True when a sample of n has at least `beyond` samples above the p-th
    percentile, the rule for reporting that percentile."""
    return n * (100 - p) / 100.0 >= beyond


def highest_supported(n, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest of `candidates` that n samples support, or None."""
    for p in candidates:
        if supported(n, p, beyond):
            return p
    return None


def latencies(ops):
    """Latency samples of ops; a failed op counts as an infinite latency, so
    it misses every limit."""
    return [op["ms"] if op["ok"] else INF for op in ops]


def limit_misses(ops, limit_ms):
    """Ops that failed or took longer than `limit_ms`."""
    return sum(1 for x in latencies(ops) if x > limit_ms)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else math.nan
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.nan
