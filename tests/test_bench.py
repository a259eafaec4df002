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
    with open(record, "rb") as fh:
        assert fh.read() == before


def test_unknown_query_is_named_before_any_session_starts():
    res = _bench("no_such_query", timeout=120)
    assert res.returncode != 0
    assert "no_such_query" in res.stderr
    assert "log4j" not in res.stderr  # Spark's first log line: no JVM started
