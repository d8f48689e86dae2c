"""Summary statistics with the benchmark's sample-count rules.

Every latency metric is a per-run median. A tail percentile is reported
only when the run holds at least ``MIN_BEYOND`` samples beyond it, so a
p90 needs 100 samples: below that the "p90" is one or two extreme
samples and moves with every stall.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(xs, pct: float):
    """The ``pct`` percentile of ``xs``, or None when fewer than
    MIN_BEYOND samples lie beyond it (see the module docstring)."""
    if not 0 < pct < 100:
        raise ValueError(f"percentile must be in (0, 100), got {pct}")
    beyond = math.floor(len(xs) * (100 - pct) / 100)
    if beyond < MIN_BEYOND:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[round(pct) - 1]


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = quartiles(xs)
    return (q3 - q1) / statistics.median(xs)
