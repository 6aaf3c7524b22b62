"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math

#: a tail percentile is reported only with at least this many samples
#: beyond it; fewer make it an outlier readout, not a percentile
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs: list[float], q: float) -> dict | None:
    """Nearest-rank ``q``-quantile as ``{"value", "n", "beyond"}``.

    The median is always reported. A higher percentile is refused
    (``None``) unless at least :data:`MIN_BEYOND` samples lie beyond
    it, so a p90 over 40 samples is never printed.
    """
    if not 0.0 < q < 1.0:
        raise ValueError("q must be in (0, 1)")
    if q == 0.5:
        return {"value": median(xs), "n": len(xs), "beyond": len(xs) // 2}
    s = sorted(xs)
    n = len(s)
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    if n == 0 or beyond < MIN_BEYOND:
        return None
    return {"value": s[rank - 1], "n": n, "beyond": beyond}
