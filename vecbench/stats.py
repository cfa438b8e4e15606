"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math


def tail(xs: list[float], beyond: int = 10) -> tuple[float, int, int] | None:
    """The highest whole percentile with at least ``beyond`` samples above
    it, by nearest rank. Returns (value, percentile, samples beyond), or
    None when there are too few samples to have such a percentile."""
    n = len(xs)
    if n <= beyond:
        return None
    pct = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return float(sorted(xs)[rank - 1]), pct, n - rank
