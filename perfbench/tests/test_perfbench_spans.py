"""Self-time arithmetic of the span recorder on hand-built span trees."""

import json

import pytest

from spans import Span, Tracer, self_times


def _span(sid, start, end, parent=None, name="x.y"):
    return Span(sid, name, start, end, parent, "r")


def test_self_time_is_duration_minus_children():
    spans = [
        _span("op", 0.0, 10.0, name="op"),
        _span("a", 1.0, 4.0, "op"),
        _span("b", 5.0, 9.0, "op"),
        _span("a1", 1.5, 2.5, "a"),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st["a"] == pytest.approx(3.0 - 1.0)
    assert st["b"] == pytest.approx(4.0)
    assert st["a1"] == pytest.approx(1.0)


def test_overlapping_children_counted_once_and_clipped_to_parent():
    spans = [
        _span("p", 0.0, 10.0),
        _span("c1", 2.0, 6.0, "p"),
        _span("c2", 4.0, 8.0, "p"),  # overlaps c1: union is 2..8
        _span("c3", 9.0, 12.0, "p"),  # runs past the parent: clipped to 9..10
    ]
    assert self_times(spans)["p"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_times_sum_to_root_duration():
    spans = [
        _span("r", 0.0, 7.0),
        _span("a", 0.5, 3.0, "r"),
        _span("b", 3.0, 6.5, "r"),
        _span("b1", 3.5, 4.0, "b"),
        _span("b2", 4.5, 6.0, "b"),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(7.0)


def test_tracer_records_parents_and_dumps_once(tmp_path):
    t = Tracer("run1", True)
    with t.span("op"):
        with t.span("ghcn.bronze"):
            with t.span("writers.write_partitioned"):
                pass
        with t.span("validate.run_expectations"):
            pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["op"].parent is None
    assert by_name["ghcn.bronze"].parent == by_name["op"].span_id
    assert by_name["writers.write_partitioned"].parent == by_name["ghcn.bronze"].span_id
    assert by_name["ghcn.bronze"].layer == "ghcn"
    assert all(s.run_id == "run1" and s.end >= s.start for s in t.spans)
    out = tmp_path / "spans.jsonl"
    t.dump(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in rows] == [s.name for s in t.spans]
    assert {"span_id", "name", "start", "end", "parent", "run_id", "self"} <= set(rows[0])


def test_disabled_tracer_records_nothing():
    t = Tracer("run1", False)
    ran = []
    with t.span("op"):
        ran.append(1)
    assert ran == [1] and t.spans == []
