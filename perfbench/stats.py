"""Arithmetic behind the reported metrics. Pure Python, no Spark."""
import math

# percentile levels op_tail_s may report, highest first
TAIL_LEVELS = (99, 95, 90, 75)
TAIL_BEYOND = 10


def nearest_rank(sorted_vals, level):
    """The level-th percentile by nearest rank: the smallest sample with at
    least level% of the samples at or below it."""
    k = max(1, math.ceil(level / 100 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(values):
    """op_tail_s: the highest percentile in TAIL_LEVELS that has at least
    TAIL_BEYOND samples above its rank; the maximum when even p75 has
    fewer (under 40 samples). Returns (value, level)."""
    vals = sorted(values)
    n = len(vals)
    for level in TAIL_LEVELS:
        if n - max(1, math.ceil(level / 100 * n)) >= TAIL_BEYOND:
            return nearest_rank(vals, level), level
    return vals[-1], 100


def self_times(spans):
    """Self time of each span: its duration minus the durations of its
    direct children. spans: dicts with id, parent and seconds."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["seconds"]
    return {s["id"]: s["seconds"] - child.get(s["id"], 0.0) for s in spans}


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def driver_gap(start, end, jobs):
    """Op wall time not covered by any Spark job running inside it."""
    return (end - start) - covered(jobs, start, end)
