"""BENCHMARK.json names exactly the workloads and metrics the benchmark
prints."""

import json
import os

from perfbench.bench import END_TO_END, trace_metric_names
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_exist():
    assert {w["name"] for w in load()["workloads"]} <= set(WORKLOADS)


def test_end_to_end_metrics_match():
    spec = load()["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == END_TO_END
    setup = next(m for m in spec if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec)


def test_per_layer_metrics_match():
    assert [m["name"] for m in load()["per_layer"]] == trace_metric_names()
