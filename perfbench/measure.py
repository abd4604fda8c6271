"""Pure metric arithmetic: percentiles, write and space amplification.

Kept free of Spark so the benchmark's own tests can check it directly.
"""

from __future__ import annotations

import math
import os
import statistics

# A tail percentile p is printed only when at least this many samples
# lie beyond it: p90 needs 100 samples, p99 needs 1000.
MIN_TAIL_SAMPLES = 10


def min_samples(p: float) -> int:
    """Samples needed before percentile ``p`` (0-100) may be reported."""
    return math.ceil(MIN_TAIL_SAMPLES / (1.0 - p / 100.0) - 1e-9)


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank percentile ``p`` of ``values``, or None when a tail
    percentile (above the median) has fewer than :func:`min_samples`
    samples behind it."""
    if not values or (p > 50 and len(values) < min_samples(p)):
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100.0 * len(ordered)) - 1)]


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def current_snapshot_bytes(table_roots: list[str]) -> int:
    """Bytes of the snapshot each table's ``_CURRENT`` pointer names
    (a root without a pointer counts whole)."""
    total = 0
    for root in table_roots:
        pointer = os.path.join(root, "_CURRENT")
        if os.path.exists(pointer):
            with open(pointer) as fh:
                total += tree_bytes(os.path.join(root, fh.read().strip()))[0]
        else:
            total += tree_bytes(root)[0]
    return total


def write_amp(bytes_before: int, bytes_after: int, bytes_arrived: int) -> float:
    """Bytes written under the warehouse during refreshes per byte of
    delta that arrived. Nothing under the root is deleted during a
    refresh, so growth is the bytes written."""
    return (bytes_after - bytes_before) / bytes_arrived


def space_amp(root: str, table_roots: list[str]) -> float:
    """Bytes under ``root`` per byte of the current snapshots."""
    return tree_bytes(root)[0] / current_snapshot_bytes(table_roots)
