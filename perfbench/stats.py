"""Summary statistics and process measurements for the benchmark."""

from __future__ import annotations

import math
import os

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(values: list[float], p: float) -> float:
    """The nearest-rank p-th percentile (an observed sample)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[max(math.ceil(p / 100.0 * len(xs)), 1) - 1]


def median(values: list[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten samples beyond
    it, or None when even the median has fewer than ten above it."""
    for p in TAIL_LADDER:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            return p
    return None


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    total = _vm_hwm_mb("self")
    if jvm_pid is not None and os.path.exists(f"/proc/{jvm_pid}/status"):
        total += _vm_hwm_mb(jvm_pid)
    return total
