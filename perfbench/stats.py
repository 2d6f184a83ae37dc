"""Pure helpers: medians, the tail percentile rule and space amplification."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _rank(p: float, n: int) -> int:
    # nearest rank, computed in thousandths of a percent to dodge float error
    return max(1, math.ceil(round(p * n * 1000) / 100_000))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return float(xs[_rank(p, len(xs)) - 1])


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile on ``TAIL_LADDER`` with at least ``min_beyond``
    of ``n`` samples strictly above its nearest rank; None if even the
    median has fewer than that beyond it."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def latency_summary(values) -> dict:
    """Median plus the tail percentile, with the sample counts behind it."""
    xs = list(values)
    out = {"n": len(xs), "p50": median(xs) if xs else None}
    p = tail_percentile(len(xs))
    out["tail_pct"] = p
    out["tail"] = percentile(xs, p) if p is not None else None
    out["beyond_tail"] = len(xs) - _rank(p, len(xs)) if p is not None else 0
    return out


def space_amp(bytes_under_root: int, live_bytes: int) -> float:
    """Bytes on disk under a table root over the bytes of the files its
    live snapshot references (1.0 = no dead files)."""
    if live_bytes <= 0:
        raise ValueError("live snapshot has no bytes")
    return bytes_under_root / live_bytes
