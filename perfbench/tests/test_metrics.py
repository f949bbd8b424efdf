"""The printed metric names are exactly those BENCHMARK.json lists."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_printed_metrics_in_order():
    s = spec()
    assert [(m["name"], m["unit"]) for m in s["end_to_end"]] == run.E2E_METRICS
    assert [(m["name"], m["unit"]) for m in s["per_layer"]] == run.LAYER_METRICS
    assert [w["name"] for w in s["workloads"]] == workloads.WORKLOADS


def test_every_end_to_end_metric_is_computed_for_every_workload():
    passes = [[("sync", 2.0), ("costs_view_read", 0.3)], [("sync", 2.2), ("costs_view_read", 0.4)]]
    for w in workloads.WORKLOADS:
        fig = run.figures(w, passes, [9.0, 0.3, 0.4], 1000.0, {"write_amp": 1.1}, 0)
        assert {n for n, _ in run.E2E_METRICS} <= set(fig)
        assert set(fig) <= set(run.FIGURE_UNITS)
        assert all(fig[n] > 0 for n, _ in run.E2E_METRICS)


def test_every_layer_metric_is_computed_from_a_span_tree():
    sp = [
        Span("query:curation_manifest", None, 0.0, 3.0),
        Span("construct", 0, 0.1, 2.0, jobs=[1, 2]),
        Span("catalog.table", 1, 0.2, 0.3),
        Span("plan", 0, 2.0, 2.1),
        Span("action", 0, 2.1, 2.9, jobs=[3]),
    ]
    m, acct = run.layer_metrics(sp, 1, 4, {}, 0.2, 0.01)
    assert list(m) == [n for n, _ in run.LAYER_METRICS]
    assert m["construct.jobs"] == 2 and m["action.jobs"] == 1
    assert m["curation_manifest.construct.s"] == pytest.approx(1.9)
    assert acct["stray_children"] == []


def test_sync_layers_and_pipeline_self_time_account_for_the_sync_span():
    sp = [
        Span("op:sync", None, 0.0, 10.0),
        Span("pipeline.sync", 0, 0.5, 9.5, bk_s=0.1),
        Span("sources.read", 1, 1.0, 2.0, bk_s=0.05),
        Span("sources.parquet_source.read_parquet_glob", 2, 1.1, 1.9, bk_s=0.02),
        Span("sources.sinks.write_parquet_partitioned", 1, 2.5, 4.0),
        Span("operators.normalize.normalize_mapped", 1, 4.0, 4.2),
        Span("sources.sinks.write_costs_partitioned", 1, 4.5, 6.0),
        Span("sources.sinks.write_parquet_partitioned", 6, 4.6, 5.9),
        Span("sources.sync_log.append_sync_log", 1, 7.0, 7.5),
        Span("operators.union_view.create_costs_view", 1, 8.0, 8.1),
    ]
    m, acct = run.layer_metrics(sp, 1, 4, {}, 0.2, 0.0)
    assert acct["stray_children"] == []
    assert acct["layers_plus_self_s"] == pytest.approx(acct["sync_span_s"])
    assert (m["sinks.raw_s"], m["sinks.normalized_s"]) == pytest.approx((1.5, 1.5))
