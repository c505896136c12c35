"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    """A percentile together with the samples it rests on.

    ``beyond`` is how many samples lie above the percentile's rank; a tail
    percentile is only trustworthy when that is at least ten.
    """

    q: float
    value: float
    n: int

    @property
    def beyond(self) -> int:
        return int(math.floor(self.n * (1.0 - self.q) + 1e-9))

    def as_dict(self) -> dict:
        return {"q": self.q, "value": self.value, "n": self.n,
                "beyond": self.beyond}


def percentile(values: list[float], q: float) -> Percentile:
    """Linear-interpolated percentile (NumPy's default, Hyndman-Fan type
    7) of ``values`` at ``q`` in [0, 1], with its sample count."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must lie in [0, 1], got {q}")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    frac = pos - lo
    return Percentile(q, xs[lo] + (xs[hi] - xs[lo]) * frac, len(xs))


def median(values: list[float]) -> float:
    return percentile(values, 0.5).value


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
