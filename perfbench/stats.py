"""Summary statistics and span arithmetic (pure Python)."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: returns ``(value, percentile, n)``.

    With ``n`` sorted samples the value at 0-based index ``n-1-beyond``
    has exactly ``beyond`` samples after it; its percentile is the share
    of samples at or below it.  When that share is under one half (fewer
    than ``2*beyond + 1`` samples) the sample supports no tail and the
    median is returned with percentile 50.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 1 - beyond
    if 2 * (i + 1) < n:
        return median(xs), 50.0, n
    return float(xs[i]), 100.0 * (i + 1) / n, n


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
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


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (children may overlap one
    another, e.g. calls made from another thread).

    ``spans`` are mappings with ``id``, ``parent``, ``start`` and
    ``end``.
    """
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
