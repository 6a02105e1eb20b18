"""Percentiles and the sample-count rule for reported timings.

A percentile is reported only when at least ``BEYOND`` samples lie above
it, so a single slow call can never be the whole tail: the median needs
20 samples, p75 needs 40, p90 needs 100.
"""

from __future__ import annotations

import math

BEYOND = 10
LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(q: float, beyond: int = BEYOND) -> int:
    """Smallest sample count that leaves ``beyond`` samples above the
    ``q``-quantile."""
    return math.ceil(beyond / (1.0 - q) - 1e-9)


def supported_quantile(n: int, beyond: int = BEYOND,
                       ladder=LADDER) -> float | None:
    """Highest quantile of ``ladder`` that ``n`` samples support, or
    None when not even the median has ``beyond`` samples above it."""
    for q in ladder:
        if n >= min_samples(q, beyond):
            return q
    return None


def median(values) -> float:
    return percentile(values, 0.5)


def cycle_rates(walls, counts, cycle: int) -> list[float]:
    """Queries per second of each whole cycle of ``cycle`` consecutive
    requests, where request i answered ``counts[i]`` queries in
    ``walls[i]`` seconds. A trailing partial cycle is left out."""
    return [sum(counts[c:c + cycle]) / sum(walls[c:c + cycle])
            for c in range(0, len(walls) - cycle + 1, cycle)]
