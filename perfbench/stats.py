"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# a percentile is reported only when at least this many samples lie
# beyond it, so a tail figure never rests on one or two slow samples
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> tuple[float, int] | None:
    """Nearest-rank ``q``-th percentile of ``samples`` and the sample
    count, or ``None`` when fewer than ``MIN_BEYOND`` samples are
    strictly greater than it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    xs = sorted(samples)
    if not xs:
        return None
    value = xs[max(math.ceil(q / 100 * len(xs)) - 1, 0)]
    beyond = sum(1 for x in xs if x > value)
    if beyond < MIN_BEYOND:
        return None
    return value, len(xs)
