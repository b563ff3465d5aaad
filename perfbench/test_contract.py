"""BENCHMARK.json agrees with the metrics run.py prints, and keeps the
format limits of its schema. Run with
``python3 -m pytest perfbench/test_contract.py``."""

import json
import os
import re

import run

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(SPEC, encoding="utf-8") as f:
        return json.load(f)


def test_metric_lists_match_the_code():
    spec = _spec()
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.LAYER
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "read"]


def test_schema_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
