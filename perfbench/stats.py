"""Metric arithmetic — pure Python, unit-tested in ``test_perfbench.py``."""

from __future__ import annotations

import math
import statistics


def per_op(total: float, ops: int) -> float:
    """``total`` spread over ``ops`` operations (0 when nothing ran)."""
    return total / ops if ops > 0 else 0.0


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Linear-interpolated ``q``-th percentile (0..100) and the sample
    count it rests on. A p90 of three samples is reported as such, not
    passed off as a stable tail figure."""
    if not values:
        return 0.0, 0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (exclusive method), so spreads match what a reader recomputes."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it its
    children cover. Children are clipped to the parent and overlapping
    children are counted once, so a child that outlives its parent (or
    two children that overlap) never drives self time below zero."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [
            (max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], [])
        ]
        out[s["id"]] = max(0.0, (hi - lo) - union_length(clipped))
    return out
