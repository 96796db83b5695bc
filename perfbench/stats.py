"""Order statistics for benchmark samples.

Percentiles use the nearest-rank definition: the q-th percentile of n
sorted samples is the ceil(q/100 * n)-th smallest. A percentile is
reported only when at least ``MIN_BEYOND`` samples lie strictly above
it, so a tail figure always rests on a tail, not on one or two
outliers.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def rank(n: int, q: float) -> int:
    """1-based nearest rank of the q-th percentile among n samples."""
    if not 0 < q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    return max(1, math.ceil(q / 100.0 * n))


def samples_beyond(n: int, q: float) -> int:
    return n - rank(n, q)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND
    samples lie beyond it."""
    n = len(samples)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(samples)[rank(n, q) - 1]


def highest_reportable(n: int, candidates=(99, 95, 90, 75)) -> float | None:
    """The highest candidate percentile with MIN_BEYOND samples beyond
    it among n samples (None if even the lowest has too few)."""
    for q in candidates:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (Python's ``statistics.quantiles(n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
