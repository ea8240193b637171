import json

import pytest

from spans import Span, Tracer, covered, layer_self_times, layer_self_times_by_kind, self_times


def _span(i, parent, start, end, layer="l"):
    return Span(i, f"s{i}", layer, 1, parent, start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 4)]) == pytest.approx(3)       # overlapping
    assert covered(0, 10, [(1, 2), (1.5, 1.8)]) == pytest.approx(1)   # nested
    assert covered(0, 10, [(1, 2), (5, 6)]) == pytest.approx(2)       # disjoint
    assert covered(0, 10, [(-5, 1), (9, 20)]) == pytest.approx(2)     # clipped
    assert covered(0, 10, [(11, 12), (3, 3)]) == 0                    # outside, empty


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, None, 0, 10, "op"),
        _span(1, 0, 1, 3, "a"),
        _span(2, 0, 2, 4, "b"),          # overlaps span 1
        _span(3, 1, 1.5, 2.5, "c"),      # grandchild, nested in span 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3)   # children cover [1, 4]
    assert st[1] == pytest.approx(2 - 1)    # minus its own child only
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)
    assert layer_self_times(spans) == pytest.approx({"op": 7, "a": 1, "b": 2, "c": 1})
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10 + 1)  # the a/b overlap counts in both
    other = Span(4, "op.read", "op", 2, None, 20, 21)
    by_kind = layer_self_times_by_kind(spans + [other])
    assert by_kind == {"s0": pytest.approx({"op": 7, "a": 1, "b": 2, "c": 1}),
                       "op.read": {"op": pytest.approx(1)}}


def test_tracer_nesting_and_disabled(tmp_path):
    off = Tracer(False)
    with off.span("x", "l") as sp:
        assert sp is None
    assert off.spans == []

    t = Tracer(True)
    op = t.new_op()
    with t.span("root", "op", op_id=op):
        with t.span("child", "a"):
            with t.span("leaf", "b"):
                pass
    root, child, leaf = t.spans
    assert (root.parent, child.parent, leaf.parent) == (None, root.id, child.id)
    assert {s.op_id for s in t.spans} == {op}
    assert root.start <= child.start <= leaf.start <= leaf.end <= child.end <= root.end
    out = tmp_path / "trace.json"
    t.dump(str(out), {"workload": "w"})
    d = json.loads(out.read_text())
    assert [s["name"] for s in d["spans"]] == ["root", "child", "leaf"]
    assert set(d["layer_self_s"]) == {"op", "a", "b"} and d["workload"] == "w"
