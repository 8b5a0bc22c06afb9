"""Summary rules shared by every workload."""

from __future__ import annotations

import math
import statistics

# Tail percentiles tried, highest first. A percentile is reported only
# when at least MIN_BEYOND samples lie beyond it.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples strictly above its nearest rank; None when even the median
    has fewer beyond it."""
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return pct
    return None


def latency_summary(values: list[float]) -> dict:
    """Median and the tail percentile the sample supports. When fewer
    than ``MIN_BEYOND`` samples lie beyond the median the tail is the
    maximum, flagged by ``tail_pct`` = 100."""
    n = len(values)
    pct = tail_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(values),
        "tail_pct": 100.0 if pct is None else pct,
        "tail": max(values) if pct is None else percentile(values, pct),
    }


def steady_batches(rows: list[int], secs: list[float]) -> tuple[list[int], list[float]]:
    """Drop the first micro-batch (stream start-up and code warming are
    fixed cost) and a trailing remainder batch carrying under half a
    full batch's rows (full fixed overhead for a partial batch)."""
    s_rows, s_secs = list(rows[1:]), list(secs[1:])
    if len(s_rows) >= 2 and s_rows[-1] < 0.5 * max(s_rows):
        s_rows, s_secs = s_rows[:-1], s_secs[:-1]
    return s_rows, s_secs


def in_window(samples: list[tuple[float, float]], start: float, end: float) -> list[float]:
    """Values of (due time, value) samples due in [start, end): after
    the warm-up and before the load stops."""
    return [v for due, v in samples if start <= due < end]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread a bound is held to."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
