"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has
    TAIL_BEYOND samples above it, by nearest rank.

    Raises when there are too few samples for that percentile to lie above
    the median: a tail that silently equals p50 would hide a regression.
    """
    n = len(samples)
    rank = n - TAIL_BEYOND  # 1-based; exactly TAIL_BEYOND samples rank above
    # ranks up to n//2 + 1 can hold the median itself (or, for even n,
    # the upper of the two values it averages)
    if rank <= n // 2 + 1:
        raise ValueError(f"{n} samples: a tail above the median with "
                         f"{TAIL_BEYOND} samples beyond it needs more")
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
