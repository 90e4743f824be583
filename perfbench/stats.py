"""The benchmark's arithmetic: medians, the fast-half mean, the
tail-percentile rule and interval unions (self time, scheduler idle gap)."""

from __future__ import annotations

import math
import statistics

#: Percentiles a tail may be reported at, lowest first.
TAIL_LADDER: tuple[float, ...] = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: A percentile is reportable only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def fast_half(xs, higher_is_better: bool = False) -> float:
    """Mean of the better half of ``xs``, rounded up (one of one or two
    samples, two of three): the lowest half of a time, the highest half of
    a rate.

    Interference from other work on a shared host only ever slows a
    sample down, so the better half estimates the program's own speed; the
    worse half mostly measures the neighbours."""
    if not xs:
        return 0.0
    best = sorted(xs, reverse=higher_is_better)[: (len(xs) + 1) // 2]
    return float(sum(best) / len(best))


def rank_value(xs, pct: float) -> tuple[float, int]:
    """Nearest-rank percentile of ``xs``: (value, samples strictly beyond
    its rank)."""
    s = sorted(xs)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return float(s[rank - 1]), len(s) - rank


def tail(xs) -> tuple[float, float] | None:
    """The highest ladder percentile with at least :data:`MIN_BEYOND`
    samples beyond it, as (percentile, value); None when not even the
    median has that many."""
    best = None
    if not xs:
        return best
    for pct in TAIL_LADDER:
        value, beyond = rank_value(xs, pct)
        if beyond < MIN_BEYOND:
            break
        best = (pct, value)
    return best


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` [(start, end), ...], each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_gap(lo: float, hi: float, task_intervals) -> float:
    """Part of the wall interval [lo, hi] during which no task ran."""
    return (hi - lo) - union_length(task_intervals, lo, hi)
