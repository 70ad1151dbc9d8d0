"""Metric names and units agree between BENCHMARK.json and the code."""

import json
import os
import re

import layers
import run

NAME = re.compile(r"[A-Za-z0-9_.-]+")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_name_is_well_formed():
    for name in [*run.UNITS, *layers.UNITS]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def test_benchmark_json_lists_what_the_code_reports():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
