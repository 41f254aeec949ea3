"""Tail percentile, span union, self time and driver-only time."""

import pytest

from etlbench import stats
from etlbench.harness import Result
from etlbench.layers import driver_only_s, overhead_ratio
from etlbench.opgen import Op
from etlbench.trace import JobStats, Span, Tracer, clipped, self_time, union_length


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(range(10)) is None
    pct, value, n = stats.tail(range(11))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_beyond():
    values = list(range(100))
    pct, value, n = stats.tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == 90.0


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(3, 3), (4, 2)]) == 0
    assert union_length([]) == 0


def test_clipped_to_window():
    assert clipped([(0, 5), (8, 12), (20, 30)], 2, 10) == [(2, 5), (8, 10)]


def test_self_time_subtracts_overlapping_children_once():
    parent = Span("p", 0.0, 10.0, None, "op")
    kids = [Span("a", 1.0, 4.0, 0, "op"), Span("b", 3.0, 5.0, 0, "op"),
            Span("c", 9.0, 12.0, 0, "op")]  # runs past the parent's end
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_tracer_nests_and_self_times():
    now = iter(range(100))
    tr = Tracer(clock=lambda: float(next(now)))
    tr.active = True
    tr.op_id = "op-1"
    with tr.span("outer"):        # 0 .. 5
        with tr.span("inner"):    # 1 .. 2
            pass
        with tr.span("inner"):    # 3 .. 4
            pass
    outer, inner1, inner2 = tr.spans
    assert inner1.parent == 0 and inner2.parent == 0 and outer.parent is None
    times = {s.name: t for s, t in tr.self_times() if s.parent is None}
    assert times["outer"] == 5 - 2


def test_inactive_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        tr.count("c", 1)
    assert tr.spans == [] and not tr.counts


def test_driver_only_time():
    res = Result(Op("append"), "window", start=100.0, end=110.0)
    res.jobs = JobStats(job_spans=((101.0, 104.0), (103.0, 106.0), (109.0, 115.0)))
    assert driver_only_s(res) == pytest.approx(10 - 5 - 1)


def test_overhead_ratio_counts_tracer_bookkeeping():
    def r(secs, own):
        return Result(Op("append"), "window", seconds=secs, trace_s=own)

    assert overhead_ratio([r(1.0, 0.05), r(3.0, 0.15)]) == pytest.approx(4.0 / 3.8)


def test_tracer_measures_its_own_time():
    tr = Tracer()
    tr.active = True
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert 0 < tr.own_s < 0.1


def test_gmean():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.gmean([3.0]) == pytest.approx(3.0)
