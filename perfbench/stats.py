"""Summary statistics the benchmark reports.

Kept free of Spark so the unit tests can import it on its own.
"""

from __future__ import annotations

import math
import statistics

# percentiles a ``_hi`` figure may take, highest first
HI_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples, in
    integer arithmetic (p is taken to 0.1)."""
    permille = round(p * 10)
    return max(1, -(-permille * n // 1000))


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError(f"geomean needs positive values, got {vals}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def hi_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile in ``HI_LADDER`` with at least ``min_beyond`` of
    ``n`` samples strictly above its rank, or None when even the median
    has fewer than that many beyond it."""
    for p in HI_LADDER:
        if n - _rank(n, p) >= min_beyond:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (no interpolation: a reported tail value is
    one that was measured)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    return float(vals[_rank(len(vals), p) - 1])


def hi(values, min_beyond: int = MIN_BEYOND) -> dict:
    """``{"p": percentile, "value": ..., "n": count}``; p and value are None
    when the sample is too small for any percentile on the ladder."""
    vals = list(values)
    p = hi_percentile(len(vals), min_beyond)
    return {"p": p, "value": percentile(vals, p) if p is not None else None,
            "n": len(vals)}


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi_: float) -> list[tuple[float, float]]:
    """Intervals intersected with [lo, hi_], empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi_)
        if e > s:
            out.append((s, e))
    return out
