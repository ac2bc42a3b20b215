from perfbench.trace import Tracer, self_times


def _span(i, parent, layer, start, end):
    return {"trace": "p", "id": i, "parent": parent, "name": layer,
            "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, "bench", 0.0, 10.0),
             _span(1, 0, "operators", 1.0, 4.0),
             _span(2, 1, "spark", 2.0, 3.5),
             _span(3, 0, "spark", 5.0, 9.0)]
    own = self_times(spans)
    assert own == {"bench": 3.0, "operators": 1.5, "spark": 5.5}


def test_tracer_records_parents_and_pass_id():
    t = Tracer(enabled=True)
    t.trace_id = "pass0"
    with t.span("pass", "bench"):
        with t.span("call", "operators"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["trace"] for s in t.spans} == {"pass0"}
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("pass", "bench"):
        pass
    assert t.spans == []
