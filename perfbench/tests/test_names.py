"""Every metric and workload name the benchmark prints is declared in
BENCHMARK.json with the same unit, and the declaration keeps its format."""

import json
import os
import re

import pytest

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_names(bench):
    declared = [w["name"] for w in bench["workloads"]]
    assert sorted(declared) == sorted(workloads.WORKLOADS)
    assert all(set(w) == {"name", "why"} and "\n" not in w["why"] for w in bench["workloads"])


def test_end_to_end_metrics(bench):
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.E2E_UNITS
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_per_layer_metrics(bench):
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == run.PER_LAYER_UNITS
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


def test_name_and_unit_format(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    units = [m["unit"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
