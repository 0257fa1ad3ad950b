"""Self-time arithmetic of the span recorder."""

import threading

import pytest

from spans import Span, SpanRecorder, covered


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 20)]) == pytest.approx(10)
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_direct_children_only():
    rec = SpanRecorder()
    rec.spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "child", 0, 1.0, 7.0),
        Span(2, "grandchild", 1, 2.0, 3.0),
        Span(3, "child", 0, 6.0, 8.0),  # overlaps the first child
    ]
    self_t = rec.self_times()
    assert self_t[0] == pytest.approx(10 - 7)  # children cover [1, 8]
    assert self_t[1] == pytest.approx(6 - 1)
    assert self_t[2] == pytest.approx(1)
    assert self_t[3] == pytest.approx(2)


def test_nested_spans_and_server_threads():
    rec = SpanRecorder()
    with rec.span("client", request=True):
        with rec.span("inner"):
            pass
        t = threading.Thread(target=lambda: rec.wrap("server", lambda: None)())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by = {sp.name: sp for sp in rec.spans}
    assert by["inner"].parent == by["client"].id
    assert by["server"].parent == by["client"].id
    assert by["client"].parent is None
    for sp in rec.spans:
        assert sp.end >= sp.start
    assert rec.take() == rec.spans and rec.take() == []
