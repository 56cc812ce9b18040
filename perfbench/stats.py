"""Summary statistics the benchmark reports: median, the tail percentile
rule, geometric mean of per-kind medians, and the failure ratio."""

from __future__ import annotations

import math
import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(samples: list[float], value: float) -> int:
    return sum(1 for x in samples if x > value)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile of ``TAIL_LADDER``
    that has at least ``MIN_BEYOND`` samples strictly above it.

    With fewer than about 2 * MIN_BEYOND samples no percentile at or above
    the median qualifies; the median is returned then, and callers report
    n and the number of samples beyond it alongside."""
    for p in TAIL_LADDER:
        v = percentile(samples, p)
        if beyond(samples, v) >= MIN_BEYOND:
            return p, v
    return 50.0, percentile(samples, 50.0)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def geomean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over unit kinds (queries) of each kind's median time,
    so a gain on any single kind moves it."""
    return geomean([statistics.median(v) for v in by_kind.values() if v])


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no units attempted")
    return failed / attempted


def routing_misses(expected: dict, got: dict) -> list[str]:
    """Keys whose counts differ between the expected routing and the
    pipeline's output; empty when the output is correct."""
    return [
        f"{k}: expected {expected[k]}, got {got.get(k)}"
        for k in sorted(expected)
        if got.get(k) != expected[k]
    ]
