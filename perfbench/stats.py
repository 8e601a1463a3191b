"""Arithmetic shared by the workloads and the tracer: percentiles,
interval self time, recall and F1. Pure Python, no Spark."""

from __future__ import annotations

import math


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th percentile's
    rank; a tail percentile is only worth quoting with ten or more."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans) -> dict:
    """``{span_id: self time}`` for spans with fields ``id, parent, start,
    end``: a span's duration minus the part of it its direct children cover."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, ())]
        out[s.id] = (s.end - s.start) - covered([k for k in kids if k[1] > k[0]])
    return out


def recall_at_k(returned, exact) -> float:
    """|returned ∩ exact| / |exact| (1.0 for an empty exact set)."""
    exact = set(exact)
    if not exact:
        return 1.0
    return len(set(returned) & exact) / len(exact)


def f1(tp: int, fp: int, fn: int) -> float:
    """F1 of flagged rows against planted labels; 1.0 when nothing was
    planted and nothing flagged."""
    if tp == 0:
        return 1.0 if fp == 0 and fn == 0 else 0.0
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    return 2 * precision * recall / (precision + recall)
