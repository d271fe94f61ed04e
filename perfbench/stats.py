"""Order statistics and interval arithmetic for the benchmark's metrics."""
import statistics


def percentile(values, p):
    """The p-th percentile (0-100) with linear interpolation between the
    two nearest ranks (the definition numpy uses by default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def spread(values):
    """Inter-quartile distance as a share of the median, with quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(span, intervals):
    """Length of `span` that none of `intervals` covers (each clipped to it)."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in intervals]
    return (e0 - s0) - union_length(clipped)


def self_time(span, children):
    """A span's duration minus the part its child spans cover."""
    return uncovered(span, children)


def driver_time(span, jobs):
    """The part of a span during which none of its Spark jobs was running:
    planning, driver loops and scheduling gaps."""
    return uncovered(span, jobs)
