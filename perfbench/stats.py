"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import math
import statistics


def summarize(values: list[float]) -> dict:
    """Median, first and third quartile and sample count of ``values``.

    With fewer than two samples the quartiles equal the single value.
    """
    if not values:
        raise ValueError("no samples to summarize")
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def geomean(values: list[float]) -> float:
    """Geometric mean of positive ``values``."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def fail_ratio(failed: int, attempted: int) -> float:
    """Failed keys over attempted keys; the failed ones count as attempted."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: failed={failed} attempted={attempted}")
    return failed / attempted
