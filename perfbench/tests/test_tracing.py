"""Self time and coverage on a synthetic span tree."""

import pytest

from tracing import Span, Tracer, covered, self_time


def _span(sid, parent, start, end):
    return Span(sid, sid, parent, start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(3, 2), (4, 4)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    root = _span("a", None, 0.0, 10.0)
    kids = [_span("b", "a", 1.0, 4.0), _span("c", "a", 3.0, 6.0),
            _span("d", "a", 9.0, 12.0)]  # overlaps b; runs past the parent
    assert self_time(root, kids) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(kids[0], []) == pytest.approx(3.0)


def test_tracer_nests_spans_and_lists_subtrees():
    t = Tracer()
    with t.span("pass"):
        with t.span("queries.query", query="q"):
            with t.span("queries.build", query="q"):
                pass
        with t.span("queries.query", query="r"):
            pass
    top, q, build, r = t.spans
    assert (q.parent, build.parent, r.parent) == (top.sid, q.sid, top.sid)
    assert t.subtree(q.sid) == {q.sid, build.sid}
    assert t.subtree(top.sid) == {s.sid for s in t.spans}
    assert all(s.end >= s.start for s in t.spans)
