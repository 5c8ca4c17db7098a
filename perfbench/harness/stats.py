"""Summary statistics shared by the workloads and the self-tests."""

from __future__ import annotations

import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it, never below the
    median: with fewer than 20 samples the tail is reported as p50."""
    best = 50
    for p in range(50, 100):
        if n * (100 - p) / 100.0 >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values: list[float]) -> dict:
    """Tail latency with the percentile it stands for and its base."""
    p = tail_percentile(len(values))
    return {"value": percentile(values, p), "percentile": p, "samples": len(values)}


def median(values: list[float]) -> float:
    return statistics.median(values)
