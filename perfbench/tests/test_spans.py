"""Self-time arithmetic over overlapping child spans."""

import pytest

from spans import Span, self_time, union_length


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 1)


def test_union_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert union_length([(-1, 2), (9, 12)], 0, 10) == pytest.approx(3)
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_counts_overlapping_children_once():
    # run [0, 10]: extract [0, 1], then load [2, 6] and stations [3, 5]
    # overlap on two pool threads, then commit [7, 9]
    run = span(1, 0.0, 10.0)
    kids = [span(2, 0.0, 1.0, 1), span(3, 2.0, 6.0, 1), span(4, 3.0, 5.0, 1),
            span(5, 7.0, 9.0, 1)]
    assert self_time(run, kids) == pytest.approx(10 - (1 + 4 + 2))


def test_self_time_with_partly_overlapping_children():
    run = span(1, 0.0, 10.0)
    kids = [span(2, 1.0, 4.0, 1), span(3, 3.0, 6.0, 1)]
    assert self_time(run, kids) == pytest.approx(10 - 5)


def test_self_time_without_children_is_duration():
    assert self_time(span(1, 2.0, 5.5), []) == pytest.approx(3.5)
