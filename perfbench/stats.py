"""The benchmark's own statistics: percentiles, span self time, driver gap."""
import math


def percentile(values, p):
    """The p-th percentile (0 < p < 100) by the nearest-rank rule: the
    smallest sample with at least p% of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile rank."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest percentile among `candidates` with at least ten samples
    beyond it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(op, jobs):
    """Operation wall time minus the union of its Spark job intervals: the
    time the driver spent between and around jobs."""
    return self_time(op, jobs)
