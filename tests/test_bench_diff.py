"""Pin the bench_diff gate and the bench_min merge on hand-built records,
in both the raw bench.py shape and the driver's BENCH_r{N}.json wrapper."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tmp_path, old, new):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    res = subprocess.run(
        [sys.executable, "tools/bench_diff.py", str(po), str(pn)],
        capture_output=True, text=True, cwd=ROOT)
    return res.returncode, res.stdout + res.stderr


def test_same_protocol_still_fails_real_regressions(tmp_path):
    old = {"queries": {"q_cache": 1.2, "q_slow": 2.0}}
    new = {"queries": {"q_cache": 1.3, "q_slow": 4.9}}
    code, out = _run(tmp_path, old, new)
    assert code == 1
    assert "q_slow" in out and "REGRESSION" in out


def test_regression_names_the_layer_that_moved(tmp_path):
    # q_slow regresses in its action (executor time grew less); q_flat has no
    # layers on the old side, so only q_slow gets a layer line
    lo = {"builder_s": 0.5, "action_s": 1.0, "driver_gap_s": 0.2,
          "executor_run_s": 0.8, "jobs": 4}
    ln = {"builder_s": 0.6, "action_s": 3.9, "driver_gap_s": 0.3,
          "executor_run_s": 2.1, "jobs": 9}
    old = {"queries": {"q_slow": 1.5, "q_flat": 2.0},
           "layers": {"q_slow": lo}}
    new = {"queries": {"q_slow": 4.5, "q_flat": 6.0},
           "layers": {"q_slow": ln, "q_flat": ln}}
    code, out = _run(tmp_path, old, new)
    assert code == 1, out
    moved = [ln for ln in out.splitlines() if "moved:" in ln]
    assert moved == [f"{'':40s} moved: action_s 1.00s -> 3.90s, jobs 4->9"], out


def test_driver_wrapper_is_graded_from_its_parsed_record(tmp_path):
    # the driver keeps only a 2000-char tail of the bench line; here it holds
    # no queries at all, so the full record must come from `parsed`
    tail = " protocol prose, no queries object " * 40
    old = {"n": 1, "rc": 0, "tail": tail,
           "parsed": {"queries": {"q_fast": 1.0, "q_slow": 2.0}}}
    new = {"n": 2, "rc": 0, "tail": tail,
           "parsed": {"queries": {"q_fast": 1.0, "q_slow": 4.9}}}
    code, out = _run(tmp_path, old, new)
    assert code == 1, out
    assert "q_slow" in out and "REGRESSION" in out


def test_driver_wrapper_without_parsed_record_is_refused(tmp_path):
    old = {"n": 4, "rc": 0, "tail": "truncated", "parsed": None}
    code, out = _run(tmp_path, old, {"queries": {"q": 1.0}})
    assert code == 2
    assert "without a parsed bench record" in out and "Traceback" not in out


def test_bench_min_merges_per_query_minimum(tmp_path):
    a = {"queries": {"q1": 2.0, "q2": 5.0}, "fixtures": {"t": "x"},
         "queries_warm_shared_artifacts": {"q1": 1.0},
         "queries_warm_persistent": {}, "alert_batch_wall_clock": 20.0,
         "value": 7.0, "cache_state": {"initial": "cold"},
         "layers": {"q1": {"jobs": 1}, "q2": {"jobs": 2}}}
    b = {"queries": {"q1": 3.0, "q2": 1.5}, "fixtures": {"t": "x"},
         "queries_warm_shared_artifacts": {"q1": 0.8},
         "queries_warm_persistent": {}, "alert_batch_wall_clock": 18.0,
         "value": 4.5, "cache_state": {"initial": "warm"},
         "layers": {"q1": {"jobs": 3}, "q2": {"jobs": 4}}}
    (tmp_path / "a.json").write_text(json.dumps(a))
    (tmp_path / "b.json").write_text(json.dumps(b))
    out = subprocess.run(
        [sys.executable, "tools/bench_min.py",
         str(tmp_path / "a.json"), str(tmp_path / "b.json")],
        capture_output=True, text=True, check=True)
    m = json.loads(out.stdout)
    assert m["queries"] == {"q2": 1.5, "q1": 2.0}
    # each query's layers come from the run whose time won
    assert m["layers"] == {"q1": {"jobs": 1}, "q2": {"jobs": 4}}
    assert m["queries_warm_shared_artifacts"] == {"q1": 0.8}
    assert m["alert_batch_wall_clock"] == 18.0
    assert m["value"] == 3.5
    assert [r["cache_state"]["initial"] for r in m["runs"]] == ["cold", "warm"]


def test_bench_min_refuses_cross_fixture_merge(tmp_path):
    a = {"queries": {"q1": 2.0}, "fixtures": {"t": "x"}, "value": 2.0}
    b = {"queries": {"q1": 1.0}, "fixtures": {"t": "y"}, "value": 1.0}
    (tmp_path / "a.json").write_text(json.dumps(a))
    (tmp_path / "b.json").write_text(json.dumps(b))
    r = subprocess.run(
        [sys.executable, "tools/bench_min.py",
         str(tmp_path / "a.json"), str(tmp_path / "b.json")],
        capture_output=True, text=True)
    assert r.returncode != 0
    assert "fixture fingerprints differ" in r.stderr
