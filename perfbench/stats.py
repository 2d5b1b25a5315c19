"""Order statistics used by every workload's report."""

from __future__ import annotations

import math
import statistics


def median(values):
    """Median of a non-empty sequence, or None when it is empty."""
    return statistics.median(values) if values else None


def tail(values):
    """The highest nearest-rank percentile that leaves at least ten
    samples beyond it.

    With ``n`` sorted samples the k-th smallest (k = n - 10) has exactly
    ten larger-ranked samples after it; it is the ``100 * k / n``-th
    percentile.  Returns ``(value, percentile, n)``, or None when fewer
    than 11 samples exist (no percentile has ten samples beyond it)."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n


def spread(values):
    """Inter-quartile distance as a share of the median (the steadiness
    figure the benchmark's bounds are checked against)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
