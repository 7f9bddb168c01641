"""Summary statistics for latency samples."""

from __future__ import annotations

import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` that leaves at least
    ``min_beyond`` of ``n`` samples beyond it; None below 2·min_beyond
    samples (not even the median qualifies)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(level, value) of the highest percentile the sample supports."""
    p = tail_level(len(values), min_beyond)
    return None if p is None else (p, percentile(values, p))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quartile_spread(values: list[float]) -> float:
    """(Q3 − Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
