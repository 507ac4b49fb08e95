"""Span self-time arithmetic."""

from perfbench.tracing import Tracer, ancestors, self_times


def _span(i, name, start, end, parent, run=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "run": run}


def test_self_time_is_span_minus_covered_children():
    spans = [
        _span(0, "job", 0.0, 10.0, None),
        _span(1, "read", 1.0, 3.0, 0),
        _span(2, "write", 4.0, 9.0, 0),
        _span(3, "commit", 5.0, 6.0, 2),
        _span(4, "flush", 7.0, 8.5, 2),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 2.5, 3: 1.0, 4: 1.5}
    assert sum(st.values()) == 10.0


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        _span(0, "job", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a
        _span(3, "c", 9.0, 12.0, 0),  # runs past its parent
    ]
    assert self_times(spans)[0] == 10.0 - 5.0 - 1.0


def test_tracer_nesting_and_ancestors():
    tr = Tracer(enabled=True)
    with tr.run("job") as root:
        with tr.span("outer"):
            with tr.span("inner"):
                pass
        with tr.span("sink"):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["inner"]["parent"] == names["outer"]["id"]
    assert all(s["run"] == root["id"] for s in tr.spans)
    anc = ancestors(tr.spans)
    assert anc[names["inner"]["id"]] == {names["inner"]["id"], names["outer"]["id"], root["id"]}
    total = sum(self_times(tr.spans).values())
    assert abs(total - (root["end"] - root["start"])) < 1e-9


def test_disabled_tracer_times_only_the_root():
    tr = Tracer(enabled=False)
    with tr.run("job") as root:
        with tr.span("x") as s:
            assert s is None
    assert [s["name"] for s in tr.spans] == ["job"]
    assert root["end"] >= root["start"]
