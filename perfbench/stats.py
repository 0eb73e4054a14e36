"""Pure helpers for the benchmark's summary statistics and trace analysis."""
import math


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    With n samples the p-th percentile has n * (100 - p) / 100 samples beyond
    it, so p = floor(100 - 100 * beyond / n), floored at 0 (the minimum) when
    the sample is smaller than `beyond`. Returns (p, value, n)."""
    n = len(values)
    p = max(0, math.floor(100 - 100.0 * beyond / n + 1e-9))
    return p, percentile(values, p), n


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(window, intervals):
    """Length of `window` = (start, end) covered by the union of intervals."""
    ws, we = window
    return union_length((max(s, ws), min(e, we)) for s, e in intervals)


def self_times(spans):
    """Span id → its duration minus the part of it its child spans cover.

    `spans` are dicts with id, parent, startMs and endMs (epoch ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    return {s["id"]: (s["endMs"] - s["startMs"])
            - covered((s["startMs"], s["endMs"]), children.get(s["id"], []))
            for s in spans}
