"""Percentile, sample-count rule and span self time."""

import math

import pytest

from common import Tracer, median, percentile, tail_supported


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile(xs, 0) == 1
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_tail_needs_ten_samples_beyond():
    assert tail_supported(1000, 99)
    assert not tail_supported(999, 99)
    assert tail_supported(100, 90)
    assert not tail_supported(99, 90)
    assert tail_supported(40, 75)
    assert not tail_supported(39, 75)


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer(enabled=True)
    # parent [0, 10], children [1, 4] and [3, 6] overlap: union covers 5
    t.spans = [
        ("parent", 0.0, 10.0, None, 1),
        ("child", 1.0, 4.0, 0, 1),
        ("child", 3.0, 6.0, 0, 1),
    ]
    st = t.self_times()
    assert math.isclose(st["parent"]["self_ms"], 5000.0)
    assert math.isclose(st["child"]["total_ms"], 6000.0)
    assert st["child"]["count"] == 2


def test_spans_nest_and_disabled_tracer_records_nothing():
    t = Tracer(enabled=True)
    with t.span("outer", 7):
        with t.span("inner", 7):
            pass
    (o_name, o0, o1, o_par, o_id), (i_name, i0, i1, i_par, _) = t.spans
    assert (o_name, o_par, o_id, i_name, i_par) == ("outer", None, 7, "inner", 0)
    assert o0 <= i0 <= i1 <= o1
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
