"""Small statistics used by the perfbench report: medians, the tail
percentile rule, interval unions and span self times."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond=10):
    """Latency at the highest whole percentile p that still has at least
    ``beyond`` samples strictly after its nearest-rank position.

    Returns (value, p, n), or (None, None, n) when there are not enough
    samples for any percentile.
    """
    n = len(xs)
    s = sorted(xs)
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            return s[rank - 1], p, n
    return None, None, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0
    cur_a = cur_b = None
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


def self_times(spans):
    """Self time of every span: its length minus the union of its
    children's intervals inside it (children may overlap, e.g. concurrent
    jobs). ``spans`` maps id -> dict(parent, start, end)."""
    kids = {}
    for sid, s in spans.items():
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: (s["end"] - s["start"])
            - union_length(kids.get(sid, []), s["start"], s["end"])
            for sid, s in spans.items()}
