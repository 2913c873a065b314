"""Order statistics and span arithmetic used by the benchmark.

Kept free of Spark and pandas so the unit tests run without a JVM.
"""

from __future__ import annotations

import statistics


def median(values) -> float:
    """Median of a non-empty sample."""
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sample")
    return float(statistics.median(vals))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (the 'exclusive' method); a single value is its own quartiles."""
    vals = list(values)
    if not vals:
        raise ValueError("quartiles of an empty sample")
    if len(vals) == 1:
        v = float(vals[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def tail_percentile(values, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above its rank: returns (value, percentile, sample count).

    With n sorted samples the value at 0-based rank ``n - beyond - 1`` has
    exactly ``beyond`` samples after it; its percentile is the share of the
    sample at or below it.  A sample too small to leave ``beyond`` samples
    past any rank is rejected, as is an empty one.
    """
    vals = sorted(float(v) for v in values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    rank = n - beyond - 1
    return vals[rank], 100.0 * (rank + 1) / n, n


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((float(a), float(b)) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children) -> float:
    """A span's duration minus the part of its interval its children cover
    (children are clipped to the span; overlapping children count once)."""
    s, e = span
    if e < s:
        raise ValueError("span ends before it starts")
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)
