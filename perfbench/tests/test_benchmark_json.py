"""BENCHMARK.json names exactly the metrics the runs print."""

import json
from pathlib import Path

from layers import metric_names, unit
from workloads import WORKLOADS

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_per_layer_metrics_match_the_trace_output():
    assert [m["name"] for m in SPEC["per_layer"]] == metric_names()
    assert all(m["unit"] == unit(m["name"]) for m in SPEC["per_layer"])


def test_end_to_end_metrics_are_bounded_and_include_setup():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert list(e2e) == ["setup_s", "cold_s", "warm_p50_s", "rows_per_s"]
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


def test_every_workload_the_runner_knows_is_listed():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
