"""Timing summaries with the benchmark's percentile rule.

The median is always reported. A higher percentile p is reported only
when at least ``MIN_BEYOND`` samples lie beyond it, i.e. when
``n * (1 - p/100) >= MIN_BEYOND``. Every summary carries its sample
count ``n``. Percentiles are nearest-rank, so each is a measured sample.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
PERCENTILES = (90, 99)


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def reportable(n: int, p: float) -> bool:
    # integer form: n·(1 − p/100) ≥ MIN_BEYOND without float rounding
    return n > 0 and (p == 50 or n * (100 - p) >= MIN_BEYOND * 100)


def summarize(samples: list[float]) -> dict:
    """{"n": count, "mean": .., "p50": .., "p90": ..} with only the
    percentiles the rule allows."""
    vals = sorted(samples)
    out: dict = {"n": len(vals)}
    if not vals:
        return out
    out["mean"] = statistics.fmean(vals)
    out["p50"] = nearest_rank(vals, 50)
    for p in PERCENTILES:
        if reportable(len(vals), p):
            out[f"p{p}"] = nearest_rank(vals, p)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
