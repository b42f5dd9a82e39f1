"""Pure statistics used by the benchmark (no Spark, no I/O)."""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

#: percentiles the tail rule may report, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)

#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile of :data:`TAIL_LADDER` that has at least
    :data:`MIN_BEYOND` samples beyond it, as ``(pct, value)``; ``None``
    when no rung qualifies (fewer than 20 samples)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) >= MIN_BEYOND * 100.0:
            return pct, percentile(values, pct)
    return None


def request_schedule(kinds: Sequence[str], seed: int, n_passes: int) -> list[str]:
    """Closed-loop request order: ``n_passes`` passes, each a seeded
    permutation of every request kind, so any prefix of whole passes
    holds every kind equally often whatever the seed."""
    rng = random.Random(seed)
    out: list[str] = []
    for _ in range(n_passes):
        order = list(kinds)
        rng.shuffle(order)
        out.extend(order)
    return out
