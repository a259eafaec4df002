"""BENCHMARK.json keeps its contract and agrees with perfbench/glossary.json."""

from __future__ import annotations

import json
import os
import re

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _load(path):
    with open(path) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")


def test_glossary_covers_every_metric():
    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    gloss = _load(os.path.join(HERE, "glossary.json"))
    e2e = {m["name"] for m in spec["end_to_end"]}
    workloads = {w["name"] for w in spec["workloads"]}
    metrics = spec["end_to_end"] + spec["per_layer"]
    assert set(gloss["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        g = gloss["metrics"][m["name"]]
        assert (g["unit"], g["better"]) == (m["unit"], m["better"]), m["name"]
        assert g["doc"]
        if m in spec["per_layer"]:
            assert g["layer"] and set(g["moves"]) <= e2e, m["name"]
            assert g["workload"] in workloads | {"all"}, m["name"]
    for dropped in gloss["dropped_workloads"]:
        assert dropped["name"] not in workloads and dropped["why"]


def test_workloads_match_the_runner():
    import sys

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
