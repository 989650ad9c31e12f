"""Summary statistics shared by the benchmark's report and its tests."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest percentile that still has at least ten samples above it.

    Returns (value, percentile, samples beyond). With n sorted samples the
    k-th has n - k above it, so k = n - 10. Below eleven samples no
    percentile qualifies; the smallest sample is returned with the count
    that does lie beyond it, so the shortfall is visible in the report.
    """
    xs = sorted(values)
    n = len(xs)
    k = max(1, n - 10)
    return xs[k - 1], 100.0 * k / n, n - k


def covered(interval, children):
    """Length of the part of `interval` that the union of `children`
    covers; children may overlap each other and stick out of it."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval, children):
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)
