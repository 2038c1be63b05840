"""BENCHMARK.json matches what run.py prints and the contract's limits."""

from __future__ import annotations

import json
import os
import re

from perfbench import config, run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(config.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_keys_and_workloads():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(config.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_what_run_prints():
    b = _bench()
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END_UNITS
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER_UNITS
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and len(b["per_layer"]) <= 128
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
