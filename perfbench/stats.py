"""Reductions the benchmark applies to raw per-operation figures.

Kept free of I/O so the rules can be tested on their own.
"""
import math

# a tail percentile is reported only with this many samples above it
TAIL_MIN_ABOVE = 10


def rank_index(n, q):
    """Nearest-rank position of the q-quantile in n sorted samples."""
    return min(n - 1, max(0, int(math.ceil(q * n)) - 1))


def percentile(values, q, min_above=0):
    """Nearest-rank q-quantile, or None when fewer than `min_above`
    samples lie above it (or there are no samples)."""
    if not values:
        return None
    s = sorted(values)
    i = rank_index(len(s), q)
    if len(s) - 1 - i < min_above:
        return None
    return s[i]


def tail_percentile(values, q=0.9):
    return percentile(values, q, TAIL_MIN_ABOVE)


def op_latencies(ops):
    """Latency in ms of every operation that succeeded. A failed
    operation has no time: it only counts as attempted and failed."""
    return [o["endMs"] - o["startMs"] for o in ops if o["ok"]]


def failed_frac(ops):
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Self time per span name: each span's duration minus the part of it
    its child spans cover (children may overlap one another)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        kids = [(c["startMs"], c["endMs"]) for c in children.get(s["id"], [])]
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered(kids, lo, hi)
    return out


def mean(values):
    return sum(values) / len(values) if values else 0.0
