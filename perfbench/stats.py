"""Order statistics behind the benchmark's end-to-end metrics.

Percentiles use the nearest-rank rule: the p-th percentile of n sorted
samples is the sample at rank ceil(p/100 * n). The samples "beyond" it
are the ones ranked after it, so a percentile is only reported when the
run holds enough samples for at least ``TAIL_BEYOND`` of them.
"""

from __future__ import annotations

import math

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def _rank(n: int, pct: float) -> int:
    return max(1, math.ceil(pct / 100 * n))


def beyond(n: int, pct: float) -> int:
    """Samples ranked after the nearest-rank ``pct``-th percentile of n."""
    return n - _rank(n, pct)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of ``values`` (need not be sorted)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), pct) - 1]


def tail_percentile(n: int, need: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile of n samples with at least ``need``
    samples beyond it, or None when n is too small for any."""
    for pct in range(99, 0, -1):
        if beyond(n, pct) >= need:
            return pct
    return None


def error_rate(failed: int, attempted: int) -> float:
    """Failed operations over attempted operations (the base)."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted

