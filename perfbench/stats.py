"""Percentiles and latency summaries for benchmark samples."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) — the same
    rule as ``numpy.percentile``'s default and ``statistics.quantiles``
    with ``method='inclusive'``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest of p50/p90/p99/p99.9 (as 50, 90, 99, 999) that has at
    least ``beyond`` samples above it out of ``n``; None when even the
    median has fewer."""
    best = None
    for label, permille in ((50, 500), (90, 900), (99, 990), (999, 999)):
        if n * (1000 - permille) >= beyond * 1000:
            best = label
    return best


def summarize(latencies_s: Sequence[float]) -> dict:
    """Median and the highest tail percentile the sample supports, in
    milliseconds, with the sample count."""
    out = {"n": len(latencies_s)}
    if not latencies_s:
        return out
    ms = [x * 1000.0 for x in latencies_s]
    out["p50_ms"] = percentile(ms, 50)
    tail = highest_supported_percentile(len(ms))
    if tail is not None and tail != 50:
        q = tail / 10.0 if tail == 999 else float(tail)
        out[f"p{tail}_ms"] = percentile(ms, q)
    out["max_ms"] = max(ms)
    return out
