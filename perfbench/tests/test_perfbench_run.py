"""The runner's reporting rules and its agreement with BENCHMARK.json."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_no_tail_without_ten_samples_beyond_it():
    assert run.tail_percentile(1) is None
    assert run.tail_percentile(20) is None
    assert run.tail_percentile(99) is None     # p90 has 9.9 beyond it
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(199) == 90.0
    assert run.tail_percentile(200) == 95.0
    assert run.tail_percentile(1000) == 99.0
    assert run.tail_percentile(10_000) == 99.9


def test_op_count_follows_seconds():
    assert run.n_ops("project_wide", 1) == run.MIN_OPS
    ten = int(10 * run.CorpusCuration.op_s)
    assert run.n_ops("corpus_curation", ten) == 10


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        list(run.END_TO_END)
    per_layer = [(f"{layer}.{m}", u) for layer in spans.LAYERS
                 for m, u in spans.LAYER_METRICS] + list(run.TRACE_METRICS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer


def test_missing_outputs_are_a_mismatch(tmp_path):
    import gen
    truth = gen.write_project(str(tmp_path / "in"), "P", 6, 20, 1)
    errs = checks.check_project(str(tmp_path / "out"), truth)
    assert errs and "unreadable" in errs[0]
    assert checks.stage_calls(str(tmp_path / "out"), "P", ("a", "b")) == \
        (2, 2)
