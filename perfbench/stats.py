"""Percentiles and spreads used by the benchmark's reports."""

from __future__ import annotations

import statistics

# Percentiles a run may report, lowest first.
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile by linear interpolation between closest
    ranks (position ``p/100 * (n-1)``), exact at 0 and 100."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = p / 100.0 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p``-th
    percentile's rank."""
    return n - 1 - int(p / 100.0 * (n - 1))


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest percentile in ``PERCENTILES`` that leaves at least
    ``min_beyond`` samples beyond it, or None when even the median does
    not."""
    best = None
    for p in PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median
    (``statistics.quantiles(n=4)``), the figure run-to-run steadiness is
    judged by."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def unstolen(wall: float, busy: float, steal: float) -> float:
    """``wall`` scaled by the share of the CPU time this machine wanted
    over that interval that it got: ``busy / (busy + steal)``.

    A CPU only accrues steal while it has work, so a stretch of wall time
    in which a share ``f`` of the wanted CPU time was stolen ran at
    ``1 - f`` of its speed; an uncontended host (no steal) leaves ``wall``
    unchanged."""
    wanted = busy + steal
    return wall * busy / wanted if wanted > 0 else wall
