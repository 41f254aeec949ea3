"""BENCHMARK.json lists exactly the metrics the benchmark prints."""

import json
import os

from etlbench import layers, report
from etlbench.run import WORKLOADS

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    spec = _spec()["end_to_end"]
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec} == report.END_TO_END


def test_per_layer_metrics_match():
    spec = _spec()["per_layer"]
    assert [m["name"] for m in spec] == list(layers.PER_LAYER)
    assert all(m["unit"] == report.unit(m["name"]) for m in spec)


def test_workloads_exist():
    assert {w["name"] for w in _spec()["workloads"]} <= set(WORKLOADS)
