"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

# A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict:
    """The highest whole percentile from 50 to 99 with at least
    ``min_beyond`` samples above its nearest-rank position.

    Returns ``{"value", "percentile", "samples", "beyond"}``. When no
    such percentile exists (fewer than ``2·min_beyond`` samples) the
    maximum is reported as percentile 100 with ``beyond`` 0, so the
    sample count always travels with the value.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail() of no samples")
    best = None
    for p in range(99, 49, -1):
        rank = math.ceil(p / 100 * n)  # nearest-rank, 1-based
        if n - rank >= min_beyond:
            best = (p, rank)
            break
    if best is None:
        return {"value": xs[-1], "percentile": 100, "samples": n, "beyond": 0}
    p, rank = best
    return {"value": xs[rank - 1], "percentile": p, "samples": n,
            "beyond": n - rank}
