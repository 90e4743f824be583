"""The benchmark's own arithmetic: tail percentiles, interval unions, idle
gaps and span self time. Pure Python; run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.trace import Span, Tracer, self_time_all  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None
    # 20 samples: p50 is rank 10, with exactly 10 beyond; p75 has 5
    assert stats.tail(list(range(1, 21))) == (50.0, 10.0)


def test_tail_climbs_the_ladder_with_sample_count():
    xs = list(range(1, 101))
    assert stats.tail(xs) == (90.0, 90.0)
    assert stats.tail(list(range(1, 201))) == (95.0, 190.0)
    assert stats.tail(list(range(1, 1001))) == (99.0, 990.0)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs)) == (75.0, 5.0)


def test_fast_half_averages_the_better_half():
    assert stats.fast_half([5.0, 1.0, 9.0, 3.0]) == 2.0
    assert stats.fast_half([5.0, 1.0, 9.0, 3.0], higher_is_better=True) == 7.0
    # an odd count rounds the half up; two samples give the better one
    assert stats.fast_half([4.0, 2.0, 8.0]) == 3.0
    assert stats.fast_half([4.0, 2.0, 8.0], higher_is_better=True) == 6.0
    assert stats.fast_half([4.0, 2.0]) == 2.0
    assert stats.fast_half([4.0]) == 4.0
    assert stats.fast_half([]) == 0.0


def test_rank_value_counts_samples_beyond():
    assert stats.rank_value([3, 1, 2, 4], 50) == (2.0, 2)
    assert stats.rank_value([7], 99.9) == (7.0, 0)


def test_union_length_merges_overlaps_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 10), (2, 3)]) == 10
    assert stats.union_length([(0, 4), (6, 10)], lo=2, hi=8) == 4
    assert stats.union_length([]) == 0
    assert stats.union_length([(5, 6)], lo=7, hi=9) == 0


def test_idle_gap_is_wall_not_covered_by_any_task():
    tasks = [(10, 20), (15, 30), (40, 50)]
    assert stats.idle_gap(0, 60, tasks) == 60 - 30
    # tasks outside the action's wall interval do not count
    assert stats.idle_gap(25, 45, tasks) == 20 - 10
    assert stats.idle_gap(0, 5, []) == 5


def test_self_time_subtracts_child_coverage_once():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: covered 1..6 once
        Span("c", 2.0, 3.0, 1, "r"),  # grandchild: not subtracted from root
    ]
    assert self_time_all(spans) == [5.0, 2.0, 3.0, 1.0]


def test_tracer_nests_spans_and_inherits_request():
    tr = Tracer(True)
    with tr.span("outer", request="pass-1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and inner.request == "pass-1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    self_times = tr.self_times()
    assert self_times["outer"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )
    assert tr.counts() == {"outer": 1, "inner": 1}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []
