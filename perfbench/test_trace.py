"""Tests of the span statistics: ``python3 -m pytest perfbench -q``."""

import pytest

from perfbench.trace import Span, Tracer, median, self_time, tail, union_length


def test_union_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 5) == 3
    assert union_length([(0, 1), (4, 5)], 1, 4) == 0
    assert union_length([]) == 0


def test_self_time_subtracts_covered_part_once():
    # two overlapping jobs cover [1, 4]; one sticks out past the span end
    assert self_time(0, 5, [(1, 3), (2, 4)]) == 2
    assert self_time(0, 5, [(4, 9)]) == 4
    assert self_time(0, 5, []) == 5


def test_tail_has_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    pct, val, n = tail(values)
    assert (pct, val, n) == (90.0, 90, 100)
    assert sum(v > val for v in values) == 10


def test_tail_without_enough_samples_reports_max():
    assert tail([3, 1, 2]) == (100.0, 3, 3)
    pct, val, n = tail(list(range(11)))
    assert val == 0 and n == 11 and pct == pytest.approx(100 / 11)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_untraced_span_has_no_counters():
    tr = Tracer()
    i = tr.open("x", "layer")
    span = tr.close(i)
    assert isinstance(span, Span) and span.end >= span.start and "jobs" not in span.attrs
