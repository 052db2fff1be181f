"""BENCHMARK.json agrees with the metrics the benchmark prints."""

import json
import os
import re

from perfbench.layers import PER_LAYER
from perfbench.run import E2E, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_keys_and_workloads():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_the_code():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == PER_LAYER
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= len(s["per_layer"]) <= 128


def test_names_and_units_are_well_formed():
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in s["end_to_end"] + s["per_layer"])
