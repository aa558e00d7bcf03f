"""Statistics the runner reports: percentiles, interval unions and span
self time. Pure functions, covered by tests/test_stats.py."""

import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values):
    return statistics.median(values) if values else 0.0


def mix_median(kinds, values):
    """Median latency of each kind of operation, averaged over the kinds
    with each kind's share of the operations as its weight. With one kind
    this is the plain median; with a mix it does not jump between kinds
    the way the median of a multi-modal mix does."""
    by_kind = {}
    for k, v in zip(kinds, values):
        by_kind.setdefault(k, []).append(v)
    n = len(values)
    return sum(len(v) / n * median(v) for v in by_kind.values()) if n else 0.0


def percentile(values, p):
    """The p-th percentile, linear between closest ranks (as numpy's
    default and statistics.quantiles(method='inclusive'))."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, min_beyond=10):
    """The highest percentile with at least ``min_beyond`` samples above
    it, as (p, value); None when there are too few samples for any."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, percentile(values, p)
    return None


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    merged = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def overlap(intervals, merged):
    """Total length of ``intervals`` covered by the disjoint ``merged``."""
    total = 0.0
    for s, e in union(intervals):
        for ms, me in merged:
            if me <= s:
                continue
            if ms >= e:
                break
            total += min(e, me) - max(s, ms)
    return total


def length(merged):
    return sum(e - s for s, e in merged)


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover.

    ``spans`` are dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = [(s["start"], s["end"])]
        kids = [(max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - overlap(kids, union(own))
    return out


def growth(values):
    """Median of the last quarter over the median of the first quarter
    (of the last over the first value when there are fewer than eight);
    1.0 means flat. None for fewer than two values."""
    if len(values) < 2:
        return None
    q = max(1, len(values) // 4)
    return median(values[-q:]) / median(values[:q])
