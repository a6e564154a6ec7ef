"""Harness tests: no Spark, run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
from layers import classify, metric_units, model_metrics  # noqa: E402
from run import END_TO_END  # noqa: E402
from spans import Span, Tracer, innermost, self_times, union_length  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("n", [20, 21, 40, 100, 1000])
def test_tail_has_ten_samples_beyond_it(n):
    xs = [float(i) for i in range(n)]
    pct, value = measure.tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


@pytest.mark.parametrize("n", [1, 3, 10, 12, 19])
def test_tail_is_the_max_when_the_rule_falls_below_the_median(n):
    xs = [float(i) for i in range(n)]
    assert measure.tail(xs) == (100.0, float(n - 1))


def test_tail_is_order_insensitive():
    xs = [0.5, 2.0, 1.5, 9.0, 0.1, 3.3, 7.0, 4.4, 8.8, 6.1, 5.5, 2.2, 1.1] * 2
    assert measure.tail(xs) == measure.tail(sorted(xs, reverse=True))


def _span(sid, parent, t0, t1, layer="x", children=()):
    s = Span(sid, parent, 0, layer, f"s{sid}", t0, t1)
    s.children = list(children)
    return s


def test_self_time_subtracts_nested_children():
    spans = [
        _span(0, None, 0.0, 10.0, "model", [1, 2]),
        _span(1, 0, 1.0, 4.0, "a", [3]),
        _span(2, 0, 5.0, 9.0, "b"),
        _span(3, 1, 2.0, 3.5, "c"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 1.5, 2: 4.0, 3: 1.5})
    # self times partition the root's wall clock
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "model", [1, 2]),
        _span(1, 0, 1.0, 6.0),
        _span(2, 0, 4.0, 8.0),
    ]
    assert self_times(spans)[0] == pytest.approx(3.0)
    assert union_length([(1, 6), (4, 8), (20, 30)], 0, 10) == pytest.approx(7.0)


def test_innermost_prefers_deepest_open_span():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0)]
    assert innermost(spans, 3.5).sid == 2
    assert innermost(spans, 4.5).sid == 1
    assert innermost(spans, 7.0).sid == 0
    assert innermost(spans, 11.0) is None


def test_tracer_nests_spans_per_thread():
    tr = Tracer()
    a = tr.open("model", "m")
    b = tr.open("catalog", "f")
    tr.on_py4j()
    tr.close(b)
    tr.close(a)
    assert b.parent == a.sid and a.children == [b.sid]
    assert b.py4j == 1 and tr.py4j["other"] == 1


def test_metric_names_and_counts_fit_the_contract():
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    measure.check_metrics(e2e, layer)
    assert len(e2e) <= 16 and len(layer) <= 128
    assert layer == metric_units()
    assert e2e == END_TO_END
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_bad_metric_names_are_rejected():
    with pytest.raises(ValueError):
        measure.check_metrics({"run s": "s"}, {"x": "count"})
    with pytest.raises(ValueError):
        measure.check_metrics({"run_s": "seconds per run"}, {"x": "count"})
    with pytest.raises(ValueError):
        measure.check_metrics({"run_s": "s"}, {})


def test_same_seed_same_order_and_passes_differ():
    models = WORKLOADS["elt_write"].models
    assert measure.pass_order(models, 7, 0) == measure.pass_order(models, 7, 0)
    assert sorted(measure.pass_order(models, 7, 0)) == sorted(models)
    orders = {tuple(measure.pass_order(models, s, p)) for s in range(5) for p in range(3)}
    assert len(orders) > 1


def test_run_s_keeps_a_failed_models_time():
    ok = [1.0, 2.0, 3.0]
    failed = [1.0, 2.0, 0.5]  # the third model raised after 0.5 s
    assert measure.pass_seconds(failed) == pytest.approx(3.5)
    summary = measure.summarize([dict(zip("abc", ok)), dict(zip("abc", failed))])
    assert summary["run_s"] == pytest.approx((6.0 + 3.5) / 2)
    assert summary["model_samples"] == 6


def test_model_geomean_takes_each_models_median_then_the_geometric_mean():
    passes = [{"a": 1.0, "b": 4.0}, {"a": 1.0, "b": 16.0}, {"a": 9.0, "b": 4.0}]
    # per-model medians 1.0 and 4.0
    assert measure.summarize(passes)["model_geomean_s"] == pytest.approx(2.0)


def test_pass_count_depends_on_seconds_not_the_clock():
    assert measure.pass_count(40, 8.0) == 5
    assert measure.pass_count(41, 8.0) == 5
    assert measure.pass_count(1, 8.0) == measure.MIN_PASSES


def test_model_metrics_attributes_jobs_and_partitions_wall_time():
    model = _span(0, None, 100.0, 110.0, "model", [1, 2])
    build = _span(1, 0, 100.0, 108.0, "query.build", [3])
    action = _span(2, 0, 108.0, 110.0, "query.action")
    commit = _span(3, 1, 101.0, 105.0, "txnlog")
    commit.py4j = 7
    rec = {
        "spans": {"model": model, "build": build, "action": action},
        "jobs": [
            {"submissionTime": 102_000, "completionTime": 103_000, "stageIds": [1]},
            {"submissionTime": 109_000, "completionTime": 109_500, "stageIds": [2, 3]},
            {"submissionTime": 50_000, "completionTime": 51_000, "stageIds": [0]},
        ],
        "stages": {1: {"numTasks": 4, "executorRunTime": 2000},
                   2: {"numTasks": 1, "shuffleReadBytes": 10}},
        "build_s": 8.0, "action_s": 2.0, "py4j_build": 9, "py4j_action": 1,
        "io_write_bytes": 0, "rdds_left": 0,
    }
    m = model_metrics(rec, [model, build, action, commit])
    assert (m["query.build_jobs"], m["query.action_jobs"]) == (1, 1)
    assert m["driver.self_s"] == pytest.approx(7.0)
    assert m["txnlog.self_s"] == pytest.approx(4.0)
    assert (m["txnlog.jobs"], m["txnlog.calls"], m["txnlog.py4j_calls"]) == (1, 1, 7)
    assert (m["spark.stages"], m["spark.tasks"]) == (2, 5)
    assert m["spark.task_s"] == pytest.approx(2.0)
    assert m["trace.unspanned_s"] == pytest.approx(6.0)
    assert m["identity_residual_s"] == pytest.approx(0.0)
    assert classify(m) == "driver-bound"
