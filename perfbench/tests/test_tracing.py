import sys
import time
import types

from tracing import Span, Tracer


def test_self_time_subtracts_the_union_of_child_spans():
    sp = Span(0, "a", "outer", None, start=0.0, end=10.0)
    sp.children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]  # overlap, overrun
    assert sp.self_s() == 10.0 - 3.0 - 2.0


def test_wrappers_record_nested_spans_and_restore(monkeypatch):
    mod = types.ModuleType("synthetic_data_pipeline_spark.fake")

    def inner():
        time.sleep(0.01)

    def outer():
        mod.inner()
        time.sleep(0.01)

    for fn in (inner, outer):
        fn.__module__ = mod.__name__
        setattr(mod, fn.__name__, fn)
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setattr("tracing.LAYERS", {"fake": [mod.__name__]})

    tracer = Tracer(enabled=True)
    tracer.instrument()
    assert mod.outer is not outer and mod.outer.__qualname__ == outer.__qualname__
    mod.outer()
    tracer.restore()
    assert mod.outer is outer and mod.inner is inner

    by_name = {s.name: s for s in tracer.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    totals = tracer.layer_totals()
    assert totals["fake.calls"] == 2
    # each function's own sleep is its self time; nothing is counted twice
    assert 0.02 <= totals["fake.busy_s"] < 0.02 + 0.05
    assert by_name["outer"].self_s() < by_name["outer"].end - by_name["outer"].start


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    tracer.instrument()
    with tracer.span("x", "y"):
        pass
    assert tracer.spans == [] and tracer._patched == []
