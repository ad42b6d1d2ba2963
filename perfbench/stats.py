"""Arithmetic shared by the runner and its tests: percentiles, self time."""
import math
import statistics

# a tail percentile is reported only where at least this many samples lie
# beyond it
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values, p):
    """Nearest-rank p-th percentile of `values`, lowered to the highest
    percentile with at least TAIL_MIN_BEYOND samples beyond it, and never
    below the median (the upper one, for an even count). Returns
    (value, percentile actually reported)."""
    xs = sorted(values)
    n = len(xs)
    k = max(0, math.ceil(p / 100.0 * n) - 1)
    k = min(k, n - 1 - TAIL_MIN_BEYOND)
    k = max(k, n // 2)
    return xs[k], 100.0 * (k + 1) / n


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. Spans are dicts with id, parent, start_ms, end_ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def self_by_name(spans):
    """Total self time (ms) per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out
