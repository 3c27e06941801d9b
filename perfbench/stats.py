"""Statistics of the benchmark: tail percentiles, span self time and
failure ratios. Pure functions, unit-tested in
test_stats.py."""

import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    For n sorted samples that is the (beyond+1)-th largest value, at
    percentile 100 * (n - beyond) / n. Returns (value, percentile,
    samples_beyond). With `beyond` or fewer samples no percentile
    qualifies: the maximum is returned at percentile 100 with the number
    of samples beyond it (0), so the caller can flag it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= beyond:
        return xs[-1], 100.0, 0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> wall time not covered by the span's direct children.

    `spans` are dicts with id, parent, start_ms and end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        wall = s["end_ms"] - s["start_ms"]
        out[s["id"]] = wall - union_length(kids, s["start_ms"], s["end_ms"])
    return out


def failed_ratio(attempted, failed):
    if attempted <= 0:
        raise ValueError("no operation was attempted")
    return failed / attempted

