"""The tail rule, union-based self time and sample interpolation."""

from __future__ import annotations

import pytest

from perfbench.stats import interpolate, median, self_time, tail, union_length


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, p, n = tail(xs)
    assert (p, n) == (90, 100)
    assert value == 90.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_percentile_grows_with_samples():
    assert tail([1.0] * 1000)[1:] == (99, 1000)
    assert tail([1.0] * 40)[1:] == (75, 40)
    assert tail(list(range(20)))[1:] == (50, 20)


def test_tail_never_below_the_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    value, p, n = tail(xs)
    assert (value, p, n) == (3.0, 50, 5)
    assert value == median(xs)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def test_self_time_subtracts_the_union_of_overlapping_children():
    # two concurrent writes inside one epoch: 2..6 and 3..7 cover 2..7
    assert self_time((0, 10), [(2, 6), (3, 7)]) == 5
    # a naive sum of child durations would give 10 - 8 = 2
    assert self_time((0, 10), [(2, 6), (3, 7)]) != 10 - (4 + 4)


def test_self_time_clips_children_to_the_span():
    assert self_time((0, 10), [(-5, 2), (9, 20)]) == 7
    assert self_time((0, 10), [(11, 12)]) == 10


def test_interpolate_between_samples():
    samples = [(10.0, 1.0), (10.5, 2.0), (11.0, 2.0), (12.0, 6.0)]
    assert interpolate(samples, 10.25) == 1.5
    assert interpolate(samples, 10.75) == 2.0
    assert interpolate(samples, 11.5) == 4.0
    assert interpolate(samples, 12.0) == 6.0
    with pytest.raises(ValueError):
        interpolate(samples, 12.5)
