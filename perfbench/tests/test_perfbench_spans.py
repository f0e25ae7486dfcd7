"""Span arithmetic: self time, per-layer totals, the self-time check."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


class Clock:
    """A clock the test advances by hand."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _traced_op(tracer, clock):
    """root [0,10] ⊃ A [1,4] ⊃ A1 [2,3]; root ⊃ B [5,9]."""
    tracer.begin_op()
    with tracer.span("run_pipeline"):
        clock.t = 1
        with tracer.span("plans.starqc"):
            clock.t = 2
            with tracer.span("plans.acclist"):
                clock.t = 3
            clock.t = 4
        clock.t = 5
        with tracer.span("operators.matrix"):
            clock.t = 9
        clock.t = 10


def test_self_time_is_duration_minus_children():
    clock = Clock()
    tracer = spans.Tracer(clock=clock)
    _traced_op(tracer, clock)
    by_layer = dict(zip((s.layer for s in tracer.spans),
                        spans.self_times(tracer.spans)))
    assert by_layer == {"run_pipeline": 3, "plans.starqc": 2,
                        "plans.acclist": 1, "operators.matrix": 4}
    assert sum(by_layer.values()) == 10
    assert spans.self_time_ok(tracer.op_spans(0), 10.0)
    assert not spans.self_time_ok(tracer.op_spans(0), 10.5)


def test_overlapping_children_are_covered_once():
    root = spans.Span("run_corpus", 0, 0.0, 10.0)
    a = spans.Span("plans.corpus", 0, 1.0, 4.0, parent=root)
    b = spans.Span("plans.neardup", 0, 3.0, 6.0, parent=root)
    # a child reaching past its parent only covers the parent's part
    c = spans.Span("session", 0, 9.0, 12.0, parent=root)
    assert spans.self_times([root, a, b, c]) == [4.0, 3.0, 3.0, 3.0]


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(5, 6), (0, 10)]) == 10


def test_failed_call_is_counted_and_reraised():
    clock = Clock()
    tracer = spans.Tracer(clock=clock)
    tracer.begin_op()
    with tracer.span("run_pipeline"):
        with pytest.raises(FileNotFoundError):
            with tracer.span("plans.session_json"):
                clock.t = 2
                raise FileNotFoundError("[Errno 2]")
        clock.t = 3
    m = spans.layer_metrics(tracer.spans, n_ops=1)
    assert m["plans.session_json.calls"] == 1
    assert m["plans.session_json.failed"] == 1
    assert m["run_pipeline.failed"] == 0
    assert m["run_pipeline.wall_s"] == 1


def test_layer_metrics_per_operation_and_driver_gap():
    clock = Clock()
    tracer = spans.Tracer(clock=clock)
    for _ in range(2):
        clock.t = 0
        _traced_op(tracer, clock)
    for s in tracer.spans:
        if s.layer == "operators.matrix":
            s.counters = {"jobs": 3, "tasks": 12, "exec_run_s": 9.0,
                          "shuffle_mb": 2.0, "spill_mb": 0.0,
                          "intervals": [(100.0, 102.0), (101.0, 103.5)]}
    m = spans.layer_metrics(tracer.spans, n_ops=2)
    assert set(m) == {f"{layer}.{name}" for layer in spans.LAYERS
                      for name, _ in spans.LAYER_METRICS}
    assert m["operators.matrix.calls"] == 1
    assert m["operators.matrix.jobs"] == 3
    assert m["operators.matrix.wall_s"] == 4
    assert m["operators.matrix.stage_wall_s"] == 3.5
    assert m["operators.matrix.driver_gap_s"] == 0.5
    assert m["plans.corpus.calls"] == 0


def test_every_stage_maps_to_a_layer():
    import checks
    assert set(checks.PIPELINE_STAGES) <= set(spans.STAGE_LAYERS)
    assert set(spans.STAGE_LAYERS.values()) <= set(spans.LAYERS)


def test_dump_writes_one_line_per_span_with_parent_links(tmp_path):
    import json
    clock = Clock()
    tracer = spans.Tracer(clock=clock)
    _traced_op(tracer, clock)
    path = tmp_path / "spans.jsonl"
    tracer.dump(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["run_pipeline", "plans.starqc",
                                         "plans.acclist", "operators.matrix"]
    assert [r["parent"] for r in recs] == [None, 0, 1, 0]
    assert len({r["group"] for r in recs}) == 4
