"""Span bookkeeping and self-time arithmetic of the benchmark tracer."""

from __future__ import annotations

import threading

import pytest

from cdcbench.tracer import Tracer, self_times


def _span(sid, parent, start, end):
    return {"name": f"s{sid}", "id": sid, "parent": parent, "trace": 1,
            "start": start, "end": end, "attrs": {}}


def test_self_time_nested():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 2.0, 3.0),
        _span(4, 1, 5.0, 6.5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.5)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.5)


def test_self_time_overlapping_children_are_merged():
    # two children that ran concurrently, one sticking out past the parent
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 3.0, 7.0),
        _span(4, 1, 9.0, 12.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (7.0 - 1.0) - (10.0 - 9.0))


def test_spans_record_parent_trace_and_threads():
    t = Tracer()
    t.enabled = True

    def elsewhere():
        with t.span("alone"):
            pass

    with t.span("root") as root:
        with t.span("child"):
            pass
        other = threading.Thread(target=elsewhere)
        other.start()
        other.join()
    by = {s["name"]: s for s in t.spans}
    assert by["child"]["parent"] == root["id"]
    assert by["child"]["trace"] == root["id"] == root["trace"]
    assert by["root"]["parent"] is None
    # parents are per thread: a span opened on another thread is a root
    assert by["alone"]["parent"] is None and by["alone"]["trace"] == by["alone"]["id"]
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_wrap_and_generator_spans_and_disabled_tracer():
    class Box:
        def work(self, x):
            return x * 2

        def stream(self, n):
            yield from range(n)

    t = Tracer()
    t.wrap(Box, "work", "box.work", attrs_of=lambda a, kw: {"x": a[1]})
    t.wrap_generator(Box, "stream", "box.stream")
    b = Box()
    assert b.work(2) == 4 and list(b.stream(3)) == [0, 1, 2]
    assert t.spans == []  # disabled: no spans
    t.enabled = True
    with t.span("op") as op:
        assert b.work(3) == 6
        assert list(b.stream(2)) == [0, 1]
    by = {s["name"]: s for s in t.spans}
    assert by["box.work"]["attrs"] == {"x": 3}
    assert by["box.work"]["parent"] == op["id"]
    assert by["box.stream"]["parent"] == op["id"]
