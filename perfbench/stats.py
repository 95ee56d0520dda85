"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples beyond it
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, pct: float) -> float:
    """Nearest-rank ``pct`` percentile, refusing one that leaves fewer than
    MIN_BEYOND samples beyond it."""
    xs = sorted(values)
    rank = max(1, math.ceil(len(xs) * pct / 100 - 1e-9))
    if len(xs) - rank < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} of {len(xs)} samples leaves {len(xs) - rank} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return float(xs[rank - 1])


def tail(values) -> tuple[float, float]:
    """(value, pct) of the highest percentile that leaves MIN_BEYOND samples
    beyond it. Needs at least 2 * MIN_BEYOND samples, so the tail is never
    below the median."""
    n = len(values)
    if n < 2 * MIN_BEYOND:
        raise ValueError(f"{n} samples; a tail needs at least {2 * MIN_BEYOND}")
    pct = 100.0 * (n - MIN_BEYOND) / n
    return percentile(values, pct), pct


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat: steal is
    time the host ran another guest while this machine wanted a CPU."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(after[1] - before[1], 1)

