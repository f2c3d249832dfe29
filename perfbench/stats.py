"""Summary statistics used by every workload."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(xs, p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = p / 100.0 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs) -> float:
    return percentile(xs, 50.0)


def samples_beyond(n: int, p: float) -> int:
    """How many of n sorted samples lie strictly above the rank the
    p-th percentile interpolates at."""
    if n <= 0:
        return 0
    return n - 1 - math.floor(p / 100.0 * (n - 1))


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least MIN_BEYOND samples
    beyond it, or None when even the lowest has too few."""
    for p in TAIL_LADDER:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def tail(xs) -> tuple[float | None, float | None]:
    """(percentile, value) of the qualifying tail, or (None, None)."""
    p = tail_percentile(len(xs))
    return (p, percentile(xs, p)) if p is not None else (None, None)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover.
    Children are clipped to the span first."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)
