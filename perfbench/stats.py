"""Order statistics for the benchmark's timings.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so that one slow sample cannot make it up alone.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond quantile ``q``."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail(values, q: float) -> float:
    """``percentile(values, q)``, refusing a tail too thin to trust."""
    if not tail_supported(len(values), q):
        raise ValueError(
            f"p{q * 100:g} needs {math.ceil(MIN_BEYOND / (1 - q))} samples, got {len(values)}"
        )
    return percentile(values, q)


def median(values) -> float:
    return statistics.median(values)
