"""Pure summary statistics used by the benchmark (no Spark imports)."""

from __future__ import annotations

import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> dict:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    With n sorted samples that is the value at rank n - TAIL_BEYOND (1-based),
    i.e. the ``100 * (n - TAIL_BEYOND) / n``-th percentile. Fewer than
    ``TAIL_BEYOND + 1`` samples support no such percentile; the maximum is
    returned instead, with ``supported`` False.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return {"value": float(xs[-1]), "percentile": 100.0, "samples": n,
                "supported": False}
    return {"value": float(xs[n - TAIL_BEYOND - 1]),
            "percentile": round(100.0 * (n - TAIL_BEYOND) / n, 2),
            "samples": n, "supported": True}


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(0, min(len(xs) - 1, int(round(p / 100.0 * len(xs) + 0.5)) - 1))
    return float(xs[k])


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list:
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans) -> dict:
    """Self time per span id: its duration minus the part of its interval
    covered by its direct children (children may overlap each other)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }
