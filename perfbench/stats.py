"""Order statistics the benchmark reports.

A latency is summarised by its median and by its *tail*: the highest
percentile that still has at least ``TAIL_BEYOND`` samples above it, so
the tail is never read off one or two outliers. Both are reported with
the sample count they rest on.
"""

from __future__ import annotations

import statistics
from typing import Dict, Sequence

TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> Dict[str, float]:
    """Highest percentile with at least ``beyond`` samples above it.

    With ``n`` samples sorted ascending, the sample at 0-based index
    ``n - beyond - 1`` has exactly ``beyond`` samples after it; its
    percentile is ``100 * (index + 1) / n``. Returns the value, the
    percentile and ``n``. Fewer than ``beyond + 1`` samples have no such
    percentile, which is an error: the caller must collect more.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a percentile")
    ordered = sorted(values)
    i = n - beyond - 1
    return {"value": float(ordered[i]), "pct": 100.0 * (i + 1) / n, "n": n}
