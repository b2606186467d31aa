"""The arithmetic behind every reported number, kept apart so it is tested."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """p-th percentile (0..100) with linear interpolation between the
    closest ranks, so p50 of an even-sized sample is the midpoint."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def items_per_s(items: int, wall_s: float) -> float:
    """Items completed per second of timed wall."""
    if wall_s <= 0:
        raise ValueError("timed wall must be positive")
    return items / wall_s


def marginal(walls_by_n: dict[int, float]) -> dict[int, float]:
    """Marginal cost of step n given the total wall at n = 1, 2, ...:
    cost(n) = wall(n) - wall(n - 1), with wall(0) = 0."""
    return {n: walls_by_n[n] - walls_by_n.get(n - 1, 0.0) for n in sorted(walls_by_n)}
