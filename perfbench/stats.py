"""Small statistics helpers shared by the benchmark and its self-tests."""

from __future__ import annotations

import math

#: percentiles considered for a tail figure, lowest first
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples a tail percentile needs above it
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """The highest candidate percentile with at least MIN_BEYOND
    samples above it (nearest-rank), as (percentile, value); None when
    even the median lacks that many."""
    s = sorted(xs)
    n = len(s)
    best = None
    for p in TAIL_CANDIDATES:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= MIN_BEYOND:
            best = (p, s[rank - 1])
    return best


def kind_geomean(samples: list[float], kinds: list[str]) -> float:
    """Geometric mean over operation kinds of each kind's median, so a
    mix's figure does not depend on how many rounds a run completed or
    on which kind sits in the middle of the pooled samples."""
    by_kind: dict[str, list[float]] = {}
    for k, v in zip(kinds, samples):
        by_kind.setdefault(k, []).append(v)
    meds = [median(v) for v in by_kind.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))
