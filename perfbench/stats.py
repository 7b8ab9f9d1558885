"""Summary statistics the benchmark reports.

Percentiles use the nearest-rank rule. A percentile is only reported
when at least ``MIN_BEYOND`` samples lie beyond it; otherwise the value
is ``None`` and the caller prints the sample count instead.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def rank(n: int, p: float) -> int:
    """0-based index of the nearest-rank ``p``-th percentile of n samples."""
    return max(math.ceil(p / 100 * n) - 1, 0)


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the ``p``-th percentile."""
    return n - 1 - rank(n, p)


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank percentile, or None without MIN_BEYOND samples past it."""
    if not values or beyond(len(values), p) < MIN_BEYOND:
        return None
    return sorted(values)[rank(len(values), p)]


def highest_percentile(
    values: list[float], candidates=(99, 95, 90, 75, 50)
) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile that has at least
    MIN_BEYOND samples beyond it, or None if not even the median has."""
    for p in candidates:
        v = percentile(values, p)
        if v is not None:
            return p, v
    return None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)
