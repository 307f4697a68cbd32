"""Every printed metric carries a name and a unit, and the benchmark prints
exactly the metrics BENCHMARK.json declares."""

from __future__ import annotations

import json
import math
import os

import pytest

import run

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def declared():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_declared_metrics_match_what_the_run_prints(declared):
    assert {m["name"]: m["unit"] for m in declared["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in declared["workloads"]] == [
        w for w in run.WORKLOADS if w in {w["name"] for w in declared["workloads"]}
    ]


@pytest.mark.parametrize("spec", [run.END_TO_END, run.PER_LAYER])
def test_every_reported_metric_has_a_name_a_unit_and_a_number(spec):
    report = run.metric_report({name: i + 0.5 for i, name in enumerate(spec)}, spec)
    assert list(report) == list(spec)
    for name, entry in report.items():
        assert name and entry["unit"]
        assert set(entry) == {"value", "unit"}
        assert isinstance(entry["value"], float) and math.isfinite(entry["value"])


def test_a_missing_metric_is_an_error_not_a_null():
    with pytest.raises(KeyError):
        run.metric_report({}, run.END_TO_END)
