"""Order statistics, interval arithmetic and the order-insensitive state
hash the benchmark uses. Pure Python, so the tests need no Spark."""

from __future__ import annotations

import math
import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def hi_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest nearest-rank percentile that still has ``beyond``
    samples above it: rank ``n - beyond`` of the sorted samples, as
    ``(percentile, value)``. When that rank falls below the median (fewer
    than ``2 * beyond`` samples) the sample cannot support a tail
    percentile and its maximum is reported as percentile 100; the
    percentile and the sample count printed beside it say which case
    applies."""
    if not xs:
        raise ValueError("no samples")
    s = sorted(xs)
    n = len(s)
    k = n - beyond
    if 2 * k < n:
        return 100.0, float(s[-1])
    return 100.0 * k / n, float(s[k - 1])


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def unstolen(wall: float, busy: float, stolen: float) -> float:
    """``wall`` less the share the hypervisor took: on a shared host a
    vCPU that wants to run is sometimes not given a physical core, and
    the kernel counts that time as steal. ``busy`` and ``stolen`` are the
    VM's CPU time in use and stolen over the same interval (any one
    unit); the result is the time the interval would have taken had
    every wanted CPU slice been granted."""
    total = busy + stolen
    return wall if total <= 0 else wall * busy / total


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, with Python's default quartile method."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other (thread pools), so the covered part
    is the union of their intervals, not the sum."""
    return (end - start) - union_length(children, start, end)


def state_hash(row_digests) -> tuple[int, int]:
    """Order-insensitive fingerprint of a row set from one 64-bit digest
    per row: (row count, sum of the digests mod 2**64)."""
    n = 0
    acc = 0
    for d in row_digests:
        n += 1
        acc = (acc + d) % (1 << 64)
    return n, acc
