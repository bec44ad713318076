"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_CANDIDATES = (90, 75)  # the median is reported on its own
BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = (len(xs) - 1) * p / 100
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_rank(n: int) -> int | None:
    """The highest of p90/p75 that leaves at least ten of n samples above
    it, or None when neither does."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100 >= BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, str]:
    """(value, label) of the tail statistic: the percentile from
    tail_rank, else the maximum."""
    p = tail_rank(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"


def median(values: list[float]) -> float:
    return statistics.median(values)
