"""Latency statistics for the benchmark.

The tail is the highest percentile of ``LADDER`` that still has at least
``MIN_BEYOND`` samples ranked above it, so it is always backed by real
samples; below ``MIN_OPS`` samples no latency is reported at all.
Percentiles use the nearest-rank definition, so every reported value is
one of the measured samples and the tail can never read below the median.
"""

from __future__ import annotations

import math

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_OPS = 20
MIN_BEYOND = 10


def rank(n: int, pct: float) -> int:
    """1-based nearest rank of percentile ``pct`` among ``n`` samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def percentile(samples: list[float], pct: float) -> float:
    ordered = sorted(samples)
    return ordered[rank(len(ordered), pct) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND of ``n``
    samples beyond it; None when ``n`` is below MIN_OPS."""
    if n < MIN_OPS:
        return None
    best = None
    for pct in LADDER:
        if n - rank(n, pct) >= MIN_BEYOND:
            best = pct
    return best


def latency_summary(samples: list[float]) -> dict | None:
    """Median and tail of ``samples``, with the tail's percentile, the
    sample count and the number of samples beyond the tail."""
    n = len(samples)
    pct = tail_percentile(n)
    if pct is None:
        return None
    return {
        "p50": percentile(samples, 50.0),
        "tail": percentile(samples, pct),
        "tail_pct": pct,
        "n": n,
        "beyond": n - rank(n, pct),
    }

