"""Quartile spread, the tail-percentile rule and span self time."""
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99, 95, 90, 80, 75)


def beyond(n, p):
    """Samples strictly above the p-th percentile rank of n samples."""
    return n - int(n * p / 100.0 + 1e-9)


def tail_percentile(n):
    """Highest percentile on the ladder with at least ten of n samples
    beyond it; None when even the lowest rung has fewer."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p
    return None


def quartile_spread(values):
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / med if med else float("inf"))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def self_times(spans):
    """Total self time per span name, for spans given as dicts with id,
    parent, name, start_us and end_us."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start_us"], sp["end_us"]))
    out = {}
    for sp in spans:
        t = self_time((sp["start_us"], sp["end_us"]), kids.get(sp["id"], []))
        out[sp["name"]] = out.get(sp["name"], 0) + t
    return out
