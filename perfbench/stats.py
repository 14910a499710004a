"""Percentiles as the benchmark reports them.

A timing is reported as its median and the highest percentile of
``LADDER`` that has at least ``MIN_BEYOND`` samples above it, with the
sample count; a percentile the sample cannot support is not reported.
"""

from __future__ import annotations

LADDER = (99.9, 99.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = p / 100 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of LADDER with >= MIN_BEYOND of n samples
    above it, or None when the sample supports none."""
    for p in LADDER:
        if n * (100 - p) / 100 >= MIN_BEYOND - 1e-9:  # 100 - 99.9 is not exact
            return p
    return None


def describe(values, unit: str) -> str:
    """One human-readable line: n, median and the supported tail."""
    n = len(values)
    if n == 0:
        return "n=0"
    text = f"n={n} p50={percentile(values, 50):.3f}{unit}"
    tail = tail_percentile(n)
    if tail is not None:
        text += f" p{tail:g}={percentile(values, tail):.3f}{unit}"
    return text


def windowed_percentile(stamped, start: float, end: float, parts: int, p: float) -> float:
    """Median over ``parts`` equal slices of [start, end) of percentile p of
    the values stamped in each slice; ``stamped`` holds (time, value).  A
    burst of interference from outside then moves one slice, not the
    result."""
    width = (end - start) / parts
    slices = [[] for _ in range(parts)]
    for t, v in stamped:
        k = int((t - start) // width)
        if 0 <= k < parts:
            slices[k].append(v)
    return percentile([percentile(s, p) for s in slices if s], 50)
