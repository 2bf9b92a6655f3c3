"""The metrics the benchmark prints are the ones BENCHMARK.json lists,
with the same units. No Spark."""

from __future__ import annotations

import json
import os

import layers
import run
from conftest import ROOT


def _listed() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match_benchmark_json():
    listed = {m["name"]: m["unit"] for m in _listed()["end_to_end"]}
    assert listed == run.END_TO_END


def test_per_layer_metrics_match_benchmark_json():
    listed = {m["name"]: m["unit"] for m in _listed()["per_layer"]}
    assert listed == layers.UNITS


def test_listed_workloads_exist():
    import workloads

    names = {w["name"] for w in _listed()["workloads"]}
    assert names <= set(workloads.WORKLOADS)
