"""Summary statistics the benchmark reports."""
import statistics


def tail(values, beyond=10):
    """The highest percentile of `values` that has at least `beyond`
    samples above it, as (value, percentile, samples above it). With
    fewer than `beyond + 1` samples no percentile qualifies and the
    maximum is returned, marked by the short count above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    i = max(0, len(xs) - 1 - beyond) if len(xs) > beyond else len(xs) - 1
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs) - 1 - i


def spread(values):
    """(median, first quartile, third quartile, (q3 - q1) / median), the
    quartiles as `statistics.quantiles(values, n=4)` gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
