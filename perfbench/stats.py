"""The benchmark's arithmetic: pure functions over numbers and intervals, with
no Spark, so they are self-tested on synthetic input (tests/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

Interval = tuple[float, float]


def union_length(intervals: Iterable[Interval]) -> float:
    """Total length covered by possibly overlapping ``[start, end)`` intervals.

    Jobs overlap under the batch's alert pool, so job busy time is the length
    of their union, not the sum of their durations."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval: Interval, window: Interval) -> Interval:
    """``interval`` cut to ``window`` (empty intervals come back as (x, x))."""
    start = max(interval[0], window[0])
    end = min(interval[1], window[1])
    return (start, max(start, end))


def self_time(span: Interval, children: Iterable[Interval]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length(clip(c, span) for c in children)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {min(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def fail_frac(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops; an op is one query or one alert in one pass."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
