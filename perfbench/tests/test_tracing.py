import pytest

from tracing import NullTracer, Tracer, descendants, self_times


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 4.0),
        span(3, 1, 3.0, 6.0),   # overlaps child 2 on [3, 4]
        span(4, 1, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        span(5, 2, 1.5, 2.0),   # grandchild: charged to span 2, not span 1
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 2))   # children cover [1,6] + [8,10]
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_descendants_include_self_and_nested():
    spans = [span(1, None, 0, 1), span(2, 1, 0, 1), span(3, 2, 0, 1), span(4, None, 0, 1)]
    d = descendants(spans)
    assert d[1] == {1, 2, 3}
    assert d[4] == {4}


class Thing:
    def work(self, x):
        return x * 2


def test_wrap_records_nested_spans_and_uninstalls():
    tr = Tracer(spark=None)
    tr.wrap(Thing, "work", "layer.work", attrs_fn=lambda a, k: {"arg": a[1]})
    tr.set_phase("window")
    tr.set_trace("c0")
    with tr.span("outer"):
        assert Thing().work(3) == 6
    tr.uninstall()
    assert Thing().work(1) == 2 and len(tr.spans) == 2
    inner, outer = sorted(tr.spans, key=lambda s: s["name"] != "layer.work")
    assert inner["parent"] == outer["id"] and inner["attrs"] == {"arg": 3}
    assert inner["trace"] == "c0" and inner["phase"] == "window"
    assert inner["group"] != outer["group"]


def test_null_tracer_is_inert():
    nt = NullTracer()
    with nt.span("anything", job_group=False) as rec:
        assert rec is None
