"""Order statistics for the benchmark's latency samples."""

from __future__ import annotations

import statistics

# Tail percentiles tried from the highest down. A percentile is reported
# only when at least TAIL_BEYOND samples lie above it.
TAIL_RUNGS = (90, 75, 50)
TAIL_BEYOND = 10


def percentile(samples: "list[float]", pct: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, pct: float) -> int:
    """How many of ``n`` distinct samples lie strictly above their
    ``pct`` percentile (as :func:`percentile` interpolates it)."""
    return n - 1 - int((n - 1) * pct / 100.0)


def tail_rung(n: int) -> int:
    """The highest rung of TAIL_RUNGS with at least TAIL_BEYOND of ``n``
    samples above it; 50 (the median) when no rung has."""
    for pct in TAIL_RUNGS:
        if beyond(n, pct) >= TAIL_BEYOND:
            return pct
    return 50


def tail_percentile(samples: "list[float]", n_floor: int) -> "tuple[int, float]":
    """(pct, value) of the tail percentile of ``samples``. The rung is
    chosen from ``n_floor``, the number of samples the window always
    yields, so that every run of a workload reports the same percentile;
    more samples only put more of them beyond it."""
    if len(samples) < n_floor:
        raise ValueError(f"{len(samples)} samples, fewer than the floor {n_floor}")
    pct = tail_rung(n_floor)
    return pct, percentile(samples, pct)


def median(samples: "list[float]") -> float:
    return statistics.median(samples) if samples else 0.0
