"""Order statistics used by every report of the benchmark."""

from __future__ import annotations

import statistics

# Tail percentiles tried from the highest down; a tail is reported only
# at a percentile with at least TAIL_MIN_BEYOND samples above it.
TAIL_PERCENTILES = (99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile in TAIL_PERCENTILES
    with at least TAIL_MIN_BEYOND samples beyond it, else None."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return None


def summary(values: list[float]) -> dict:
    """Sample count, median and (when the samples allow one) tail."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        t = tail(values)
        if t is not None:
            out["tail_pct"], out["tail"] = t
            out["tail_one_mode"] = in_one_mode(values, t[0])
    return out


def in_one_mode(values: list[float], p: float, width: float = 5.0,
                jump: float = 1.25) -> bool:
    """False when the samples within ``width`` percentile points either
    side of ``p`` differ by more than ``jump`` times: the percentile then
    sits on the boundary between two modes (say fold and no-fold ticks)
    and moves a lot when a single sample changes side."""
    lo = percentile(values, max(0.0, p - width))
    hi = percentile(values, min(100.0, p + width))
    return hi <= jump * lo


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
