"""Span self-time arithmetic (no Spark needed)."""

import time

from meter import Meter, Span, self_times


def test_self_time_is_duration_minus_children():
    spans = [
        Span("pass", 0.0, 10.0),
        Span("sign", 1.0, 3.0, parent=0),
        Span("cc", 4.0, 8.0, parent=0),
        Span("inner", 5.0, 6.5, parent=2),
    ]
    st = self_times(spans)
    assert st == [10.0 - 2.0 - 4.0, 2.0, 4.0 - 1.5, 1.5]
    # self times of a tree add up to its root's duration
    assert abs(sum(st) - spans[0].dur) < 1e-12


def test_meter_nests_spans_without_spark():
    m = Meter()
    with m.span("pass"):
        with m.span("a"):
            time.sleep(0.01)
        with m.span("b"):
            with m.span("c"):
                time.sleep(0.01)
    names = [(s.name, s.parent) for s in m.spans]
    assert names == [("pass", None), ("a", 0), ("b", 0), ("c", 2)]
    st = self_times(m.spans)
    assert abs(sum(st) - m.spans[0].dur) < 1e-9
    assert all(x >= 0 for x in st)
