"""The printed metric names and units match BENCHMARK.json."""

import json
import os

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _declared(section):
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_units_match_the_spec():
    assert run.E2E_UNITS == _declared("end_to_end")
    assert run.LAYER_UNITS == _declared("per_layer")


def test_workloads_match_the_spec():
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_result_line_prints_every_metric_with_its_unit():
    for units in (run.E2E_UNITS, run.LAYER_UNITS):
        line = run.result_line({k: 1.5 for k in units}, units, attempted=3, failed=0)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == units
        assert line["correct"] is True
    assert run.result_line({}, {}, attempted=2, failed=1)["correct"] is False
