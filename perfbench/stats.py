"""Percentile and rate arithmetic for the benchmark's metrics."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def rate(count: float, seconds: float) -> float:
    """Work per second; a zero or negative wall time is an error, not infinity."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive wall time {seconds}")
    return count / seconds


def ratio(part: float, whole: float) -> float:
    """part / whole, 0 when there is no whole (e.g. no new rows)."""
    return part / whole if whole else 0.0


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover.

    Children are clipped to the parent and their union is taken, so
    overlapping or out-of-range children are never counted twice.
    """
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
