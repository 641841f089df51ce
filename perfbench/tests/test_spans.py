"""Span bookkeeping and self-time arithmetic."""

import threading
import types

import pytest

from spans import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "op", None, 1, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 4.0),
        Span(3, "b", 1, 1, 3.0, 6.0),  # overlaps a: counted once
        Span(4, "c", 2, 1, 1.5, 2.0),  # grandchild: charged to a, not op
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)


class FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


def test_nested_spans_set_and_restore_job_group():
    sc = FakeSc()
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    tr = Tracer(sc)
    with tr.span("op", op=True) as op:
        assert sc.getLocalProperty("spark.jobGroup.id") == f"pb-{op.span_id}"
        with tr.span("inner") as inner:
            assert inner.parent == op.span_id and inner.op == op.span_id
            assert sc.getLocalProperty("spark.jobGroup.id") == f"pb-{inner.span_id}"
        assert sc.getLocalProperty("spark.jobGroup.id") == f"pb-{op.span_id}"
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    assert tr.ops() == [op]
    assert tr.groups_of_op(op) == {f"pb-{op.span_id}", f"pb-{inner.span_id}"}


def test_ambient_parents_spans_of_other_threads_and_counters_follow_ops():
    tr = Tracer()
    with tr.span("validate", op=True) as op:
        tr.ambient = op

        def handler():
            with tr.span("service.validate"):
                tr.add("bytes", 3)

        t = threading.Thread(target=handler)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        tr.ambient = None
    handler_span = [s for s in tr.spans if s.name == "service.validate"][0]
    assert handler_span.parent == op.span_id and handler_span.op == op.span_id
    assert tr.counter("bytes", [op]) == 3


def test_patch_wraps_and_restore_puts_original_back():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer()
    seen = []
    tr.patch(mod, "f", "layer.f", after=lambda span, out, a, kw: seen.append(span.name) or out * 10)
    with tr.span("op", op=True):
        assert mod.f(1) == 20
    assert seen == ["layer.f"]
    assert [s.name for s in tr.spans] == ["op", "layer.f"]
    tr.restore()
    assert mod.f is orig


def test_busy_excludes_nested_probe_time():
    tr = Tracer()
    op = Span(1, "op", None, 1, 0.0, 10.0)
    plan = Span(2, "plan", 1, 1, 1.0, 5.0)
    probe = Span(3, "x.probe", 2, 1, 2.0, 4.0, probe=True)
    tr.spans = [op, plan, probe]
    assert tr.busy("plan", [op]) == pytest.approx(2.0)
    assert tr.probe_time(op) == [(2.0, 4.0)]
