"""Order statistics and interval arithmetic used by the benchmark. No Spark."""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A tail percentile is reported only with at least this many samples above it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile that leaves at least ten of ``n``
    samples beyond it, or None when even the median does not."""
    best = None
    for p in TAIL_LADDER:
        # n * (100 - p) / 100 >= 10, in exact integer tenths of a percent
        if n * (1000 - round(p * 10)) >= TAIL_MIN_BEYOND * 1000:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` of the tail rule, or None for too few samples."""
    p = tail_percentile(len(values))
    return None if p is None else (p, percentile(values, p))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by ``intervals``."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)


def spread(values: list[float]) -> dict:
    """Median, quartiles and the inter-quartile range as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }
