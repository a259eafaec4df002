"""Merge same-head bench records by per-query minimum — the committed record.

r15 postmortem: four same-head runs spread 239.7–297.0 s (two against a
dropped page cache) and the committed record was the noisiest, manufacturing
5× phantom per-query regressions that standalone re-times refuted.  The
protocol fix is twofold: bench.py now pre-touches every fixture byte (no
record can be cold-cache) and the ROUND record, when several same-head runs
exist, is their per-query MIN — the steady-state cost each plan actually has,
with the inputs' run metadata preserved in ``runs``.  Each query's ``layers``
entry comes from the run whose time won.

Usage:  python tools/bench_min.py BENCH_A.json BENCH_B.json [...] > merged
        python tools/bench_min.py -o BENCH_LOCAL.json BENCH_A.json B.json

Refuses to merge records whose fixture fingerprints differ (cross-fixture
minima would be meaningless).
"""

from __future__ import annotations

import argparse
import json
import sys


def merge(records: list[dict]) -> dict:
    if not records:
        raise SystemExit("no records to merge")
    base = records[0]
    for r in records[1:]:
        if r.get("fixtures") != base.get("fixtures"):
            raise SystemExit("refusing to merge: fixture fingerprints differ "
                             "(cross-fixture minima are meaningless)")
    out = dict(base)
    layers: dict[str, dict] = {}
    for tier in ("queries", "queries_warm_shared_artifacts",
                 "queries_warm_persistent"):
        merged: dict[str, float] = {}
        errored: set[str] = set()
        for r in records:
            for q, t in (r.get(tier) or {}).items():
                if t is None or t < 0:
                    # bench.py writes -1.0 when a query errors; a sentinel
                    # must never beat a valid timing from another run
                    # (r16 advice).  Track it so an all-sentinel query
                    # fails the merge loudly instead of committing -1.0.
                    # Strictly negative only: a legitimate timing rounded
                    # to 0.0 is a valid (fast) measurement, not an error
                    # (r17 advice).
                    errored.add(q)
                    continue
                if q not in merged or t < merged[q]:
                    merged[q] = t
                    if tier == "queries":  # the winning run's layer split
                        layers[q] = (r.get("layers") or {}).get(q)
        missing = errored - set(merged)
        if missing:
            raise SystemExit(
                f"refusing to merge: {sorted(missing)} in tier '{tier}' "
                "have only error sentinels across all input runs")
        out[tier] = dict(sorted(merged.items(), key=lambda kv: kv[1]) if
                         tier == "queries" else sorted(merged.items()))
    out["layers"] = {q: v for q, v in sorted(layers.items()) if v is not None}
    rt: dict[str, dict] = {}
    for r in records:
        rt.update(r.get("retimed") or {})
    if rt:
        out["retimed"] = rt
    batches = [r["alert_batch_wall_clock"] for r in records
               if r.get("alert_batch_wall_clock") is not None]
    if batches:
        out["alert_batch_wall_clock"] = min(batches)
    out["value"] = round(sum(out["queries"].values()), 3)
    out["runs"] = [{"value": r.get("value"),
                    "cache_state": r.get("cache_state")} for r in records]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("records", nargs="+")
    ap.add_argument("-o", "--out", default=None)
    args = ap.parse_args()
    recs = []
    for p in args.records:
        with open(p) as fh:
            recs.append(json.load(fh))
    merged = merge(recs)
    text = json.dumps(merged, indent=1) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
