"""Latency summaries shared by every workload."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, sample_count)``, or None when there are
    too few samples for any sample to have ten beyond it. The value is the
    ``n - 11``-th smallest sample (0-based), reported as the percentile
    ``100 * (n - 10) / n``: with 11 samples that is the minimum, with 100
    the 90th percentile, with 1000 the 99th.
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def kind_geomean_p50(latencies: dict[str, list[float]]) -> float | None:
    """Geometric mean over op kinds of each kind's median latency.

    Kinds whose costs differ several-fold (a Title lookup and an Actor
    lookup, or eleven different arrival queries) make a pooled median
    jump between modes as the mix of a run shifts; a per-kind median
    combined this way moves only when some kind's own latency moves.
    None when no kind has a sample, as when every op failed.
    """
    meds = [statistics.median(v) for v in latencies.values() if v]
    if not meds:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))
