"""Pure helpers over the harness's span and listener records.

Intervals are (start, end) pairs in milliseconds. Nothing here reads
files or clocks, so the rules can be tested on planted inputs.
"""
import statistics


def union_length(intervals, lo=None, hi=None):
    """Length of the union of `intervals`, clipped to [lo, hi] if given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["t1"] - span["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])


def self_times(spans):
    """Self time of every span, keyed by span id, children found by `parent`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}


def within(records, span):
    """Records (jobs, executions, triggers) that start inside the span."""
    key = "t0" if records and "t0" in records[0] else "t"
    return [r for r in records if span["t0"] <= r[key] <= span["t1"]]


def driver_gap(span, jobs):
    """Span wall time not covered by any job interval, in ms."""
    return (span["t1"] - span["t0"]) - union_length(
        [(j["t0"], j["t1"]) for j in jobs], span["t0"], span["t1"])


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, n), or None when there are too few
    samples. The value is the (beyond+1)-th largest sample, so exactly
    `beyond` samples lie above it and the percentile is (n-beyond)/n.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def contiguous(start, end, marks):
    """Split [start, end] at the sorted `marks` (name, t): each name gets
    the stretch from the previous mark to its own, and the stretch after
    the last mark is returned separately. The parts sum to end - start."""
    parts, prev = [], start
    for name, t in sorted(marks, key=lambda m: m[1]):
        t = min(max(t, prev), end)
        parts.append((name, t - prev))
        prev = t
    return parts, end - prev
