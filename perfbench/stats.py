"""The benchmark's arithmetic: percentiles, spreads, interval unions
and span self-time. Pure functions over plain numbers, so
``perfbench/tests`` can pin them without a Spark session."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default). Raises on an empty input."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, qs=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0),
                    beyond: int = 10):
    """``(q, value)`` for the highest percentile in ``qs`` that leaves at
    least ``beyond`` samples above it, or None when even the median
    does not (fewer than 2 * ``beyond`` samples)."""
    n = len(values)
    for q in qs:
        if n * (100.0 - q) / 100.0 >= beyond:
            return q, percentile(values, q)
    return None


def spread(values) -> dict:
    """Median, first and third quartile (``statistics.quantiles`` with
    n=4, the exclusive method) and the interquartile distance as a
    share of the median."""
    xs = list(values)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs * 3)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals; overlaps
    count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans) -> dict:
    """Self time per span id: its wall time minus the wall time of its
    direct children. ``spans`` maps id -> ``(parent_id, wall)``;
    the parent of a root span is None."""
    child = {}
    for sid, (parent, wall) in spans.items():
        if parent is not None:
            child[parent] = child.get(parent, 0.0) + wall
    return {sid: wall - child.get(sid, 0.0)
            for sid, (_, wall) in spans.items()}
