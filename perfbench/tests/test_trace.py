import time

from perfbench.trace import NullTracer, Span, Tracer, covered, self_time


def span(sid, start, end, parent=None):
    return Span(sid, f"io.sinks.s{sid}", parent, 1, start, end)


def test_self_time_is_duration_minus_child_coverage():
    parent = span(1, 0.0, 10.0)
    kids = [span(2, 1.0, 3.0, 1), span(3, 2.0, 4.0, 1), span(4, 6.0, 7.0, 1)]
    # children cover [1, 4] and [6, 7]: 4 of the parent's 10 seconds
    assert self_time(parent, kids) == 6.0


def test_self_time_clips_children_to_the_parent():
    parent = span(1, 5.0, 10.0)
    kids = [span(2, 4.0, 6.0, 1), span(3, 9.0, 12.0, 1)]
    assert self_time(parent, kids) == 3.0
    assert self_time(parent, []) == 5.0


def test_covered_merges_overlaps():
    assert covered(0, 10, [(2, 5), (1, 3), (4, 6), (8, 9)]) == 6
    assert covered(0, 10, [(11, 12)]) == 0


def test_tracer_links_spans_and_summarizes_layers():
    tr = Tracer()
    with tr.span("etl.cycle"):
        with tr.span("streaming.incremental.run"):
            time.sleep(0.01)
        with tr.span("plans.pipelines.x.exec"):
            with tr.span("io.sinks.write_snapshot"):
                time.sleep(0.02)
    with tr.span("etl.cycle"):
        pass
    root = tr.named("etl.cycle")[0]
    sink = tr.named("io.sinks.write_snapshot")[0]
    run = tr.named("streaming.incremental.run")[0]
    assert run.parent == root.id and sink.op == root.id
    assert tr.named("plans.pipelines.x.exec")[0].id == sink.parent
    ops = tr.per_op_layers("etl.cycle")
    assert len(ops) == 2
    first = ops[0]
    assert first["io.sinks"]["self_ms"] >= 20
    assert first["plans.pipelines"]["self_ms"] < first["io.sinks"]["self_ms"]
    assert ops[1]["io.sinks"]["self_ms"] == 0


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("etl.cycle") as sp:
        assert sp is None
    tr.finish()
    assert tr.spans == []
