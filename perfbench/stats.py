"""Summary statistics shared by every workload of the benchmark.

One rule for tails lives here (``tail``): report the highest whole
percentile that still has at least ``TAIL_BEYOND`` samples above it, and
say which percentile and how many samples it rests on.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n`` samples
    strictly above the p-th percentile position; None when that percentile
    would fall below the median (fewer than 2 * ``beyond`` samples)."""
    if n < 2 * beyond:
        return None
    # samples beyond the p-th percentile = n - ceil(n * p / 100)
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 0 and n - math.ceil(n * p / 100.0) < beyond:
        p -= 1
    return p


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[int | None, float | None]:
    """(percentile, value) of the tail rule; (None, None) below the
    sample count the rule needs."""
    p = tail_pct(len(values), beyond)
    if p is None:
        return None, None
    return p, percentile(values, p)
