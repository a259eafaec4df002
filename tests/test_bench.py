"""bench.py's subset mode: the cold protocol over named queries, with each
query's layer split, and no write to the committed record."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _bench(*names: str, timeout: float = 300) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "bench.py", *names], cwd=ROOT,
                          env={**os.environ, "SPARK_GRAFT_SF_DIR": SF},
                          capture_output=True, text=True, timeout=timeout)


def test_subset_mode_times_named_queries_with_layers():
    record = os.path.join(ROOT, "BENCH_LOCAL.json")
    with open(record, "rb") as fh:
        before = fh.read()
    res = _bench("alert_key_hash", "slugify")
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out["queries"]) == set(out["layers"]) == {"alert_key_hash", "slugify"}
    for name, layer in out["layers"].items():
        assert out["queries"][name] > 0
        assert layer["jobs"] >= 1, layer
        assert layer["builder_jobs"] + layer["action_jobs"] == layer["jobs"], layer
        assert layer["plan_s"] >= 0, layer
    with open(record, "rb") as fh:
        assert fh.read() == before


def test_unknown_query_is_named_before_any_session_starts():
    res = _bench("no_such_query", timeout=120)
    assert res.returncode != 0
    assert "no_such_query" in res.stderr
    assert "log4j" not in res.stderr  # Spark's first log line: no JVM started


def test_swing_guard_tightens_to_2x_above_5s(monkeypatch):
    """The re-time rule as a pure function, with no Spark session: more than
    3x a prior of at least 1 s, or more than 2x a prior above 5 s."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.syspath_prepend(ROOT)
    from bench import swing

    assert swing(13.6, 6.0)       # deliberate noise on a slow query: 2.27x
    assert not swing(1.4, 1.0)    # 1.4x of a 1 s query
    assert not swing(2.9, 1.0) and swing(3.1, 1.0)
    assert not swing(10.0, 5.0) and swing(10.1, 5.01)
    assert not swing(14.9, 5.0) and swing(15.1, 5.0)
    assert not swing(100.0, 0.9)  # sub-second priors are noise
    assert not swing(5.0, None) and not swing(-1.0, 2.0)
