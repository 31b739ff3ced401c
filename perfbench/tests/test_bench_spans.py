"""Span self time and per-layer attribution (no Spark)."""

from __future__ import annotations

import threading
import types

import pytest

from perfbench import spans as sp


def _span(i, layer, start, end, parent=None, **counters):
    return sp.Span(i, f"s{i}", layer, "op:0", parent, start, end, dict(counters))


def test_covered_merges_overlaps_and_clips():
    assert sp.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert sp.covered([(1, 3), (2, 5)], 2, 4) == 2
    assert sp.covered([], 0, 1) == 0


def test_self_time_subtracts_children():
    spans = [
        _span(0, sp.OP_LAYER, 0.0, 10.0),
        _span(1, "pipeline", 1.0, 9.0, parent=0),
        _span(2, "operators", 2.0, 5.0, parent=1),
        _span(3, "operators", 6.0, 8.0, parent=1),
    ]
    assert sp.self_times(spans) == {0: 2.0, 1: 3.0, 2: 3.0, 3: 2.0}


def test_layer_self_times_add_up_to_wall():
    spans = [
        _span(0, sp.OP_LAYER, 0.0, 10.0),
        _span(1, "plans", 1.0, 4.0, parent=0),
        _span(2, "execution", 4.0, 9.0, parent=0),
        _span(3, sp.OP_LAYER, 10.5, 11.0),
    ]
    layers = sp.layer_self_times(spans, wall=12.0)
    assert layers == {"plans": 3.0, "execution": 5.0, "unattributed": 4.0}
    assert sum(layers.values()) == 12.0


def test_self_counters_subtract_children_but_keep_levels():
    spans = [
        _span(0, "pipeline", 0, 3, jobs=10.0, cached_blocks_left=4.0),
        _span(1, "operators", 1, 2, parent=0, jobs=7.0, cached_blocks_left=4.0),
    ]
    sc = sp.self_counters(spans)
    assert sc[0] == {"jobs": 3.0, "cached_blocks_left": 4.0}
    assert sc[1] == {"jobs": 7.0, "cached_blocks_left": 4.0}


def test_tracer_records_nesting_probes_and_wrapped_calls():
    ticks = iter(range(100))
    tracer = sp.Tracer(lambda: {"n": next(ticks)}, lambda a, b: {"jobs": float(b["n"] - a["n"])})
    mod = types.SimpleNamespace(call=lambda x: x * 2)
    tracer.wrap(mod, "call", "pipeline", on_result=lambda s, r: s.meta.update(r=r))
    with tracer.op("store_job", 7):
        assert mod.call(21) == 42
    op, call = tracer.spans
    assert (op.layer, op.op, op.parent) == (sp.OP_LAYER, "store_job:7", None)
    assert (call.name, call.layer, call.op, call.parent) == ("call", "pipeline", "store_job:7", op.id)
    assert call.meta == {"r": 42}
    assert op.counters["jobs"] == 3.0 and call.counters["jobs"] == 1.0
    assert op.start <= call.start <= call.end <= op.end
    assert mod.call.__wrapped__(1) == 2


def test_span_on_another_thread_nests_under_the_operations_open_span():
    tracer = sp.Tracer()

    def batch():
        with tracer.span("batch", "streaming"):
            pass

    with tracer.op("drain", 0), tracer.span("consume", "streaming"):
        t = threading.Thread(target=batch)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    op, consume, batch_span = tracer.spans
    assert (consume.parent, batch_span.parent) == (op.id, consume.id)
    assert batch_span.op == "drain:0"
    st = sp.self_times(tracer.spans)
    assert st[consume.id] == consume.duration - batch_span.duration


def test_wrapped_call_that_raises_still_closes_its_span():
    tracer = sp.Tracer()

    def boom():
        raise RuntimeError("x")

    mod = types.SimpleNamespace(boom=boom)
    tracer.wrap(mod, "boom", "sources")
    with pytest.raises(RuntimeError):
        mod.boom()
    assert tracer.spans[0].end >= tracer.spans[0].start > 0
