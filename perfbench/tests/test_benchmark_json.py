"""BENCHMARK.json names exactly the metrics the benchmark emits, with the
same units, within the limits the benchmark format sets."""

import json
import os
import re

from perfbench import metrics
from perfbench.workloads import WORKLOADS

SPEC = os.path.join(metrics.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(SPEC) as f:
        return json.load(f)


def test_keys_and_command():
    spec = load()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert os.path.getsize(SPEC) <= 64 * 1024


def test_workloads_are_runnable():
    spec = load()
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_the_emitted_ones():
    spec = load()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == metrics.END_TO_END
    setup = e2e["setup_s"]
    assert setup["better"] == "lower" and setup["unit"] == "s"
    assert all(0 < m["bound"] <= setup["bound"] <= 0.25 for m in e2e.values())
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert {k: m["unit"] for k, m in layer.items()} == metrics.PER_LAYER
    assert len(layer) <= 128
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
        assert set(m) == ({"name", "unit", "better", "bound"} if m in spec["end_to_end"] else {"name", "unit", "better"})
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
