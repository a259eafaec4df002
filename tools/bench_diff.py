"""Round-over-round bench regression gate.

Compares two bench records per query and fails (exit 1) on any regression above
the threshold.  Accepts either format:

* the raw one-line JSON printed by ``bench.py`` (or its ``BENCH_LOCAL.json`` dump),
* the driver's ``BENCH_r{N}.json`` wrapper, whose ``parsed`` field holds that
  record (a wrapper whose ``parsed`` is null is refused, exit 2).

Usage::

    python tools/bench_diff.py BENCH_r18.json BENCH_LOCAL.json [--threshold 1.5]

Queries faster than the noise floor (NOISE_FLOOR_S = 1 s, on both sides) are
reported but never fail the gate — timings that fast on a warm local JVM jitter
well past 1.5x.

When both records carry a regressed query's ``layers`` entry, the report names
the layer that moved: the one of LAYER_FIELDS with the largest increase, and
the job counts old -> new.
"""

from __future__ import annotations

import argparse
import json
import sys

NOISE_FLOOR_S = 1.0
#: the per-query time split of bench.py's ``layers`` entries
LAYER_FIELDS = ("builder_s", "action_s", "driver_gap_s", "executor_run_s")


def load_bench(path: str) -> tuple[dict[str, float], dict, dict]:
    """``(queries, fixtures, layers)`` of a bench record.  ``fixtures`` is the
    input fingerprint map and ``layers`` the per-query layer split (each
    empty for records that predate it)."""
    with open(path) as fh:
        doc = json.load(fh)
    if "tail" in doc:  # driver wrapper
        doc = doc.get("parsed")
        if not isinstance(doc, dict):
            print(f"{path}: driver wrapper without a parsed bench record",
                  file=sys.stderr)
            raise SystemExit(2)
    if not isinstance(doc.get("queries"), dict):
        print(f"{path}: unrecognized bench format", file=sys.stderr)
        raise SystemExit(2)
    return doc["queries"], doc.get("fixtures") or {}, doc.get("layers") or {}


def moved_layer(old: dict, new: dict) -> str:
    """The LAYER_FIELDS entry that grew most between two ``layers[q]``
    records, and the job counts."""
    field = max(LAYER_FIELDS, key=lambda f: new.get(f, 0) - old.get(f, 0))
    return (f"{field} {old.get(field, 0):.2f}s -> {new.get(field, 0):.2f}s, "
            f"jobs {old.get('jobs')}->{new.get('jobs')}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    old, old_fix, old_layers = load_bench(args.old)
    new, new_fix, new_layers = load_bench(args.new)
    # Fixture boundary: regenerated input tables shift absolute per-query
    # times (the r7→r8 vector-family drift was exactly this — A/B on frozen
    # fixtures exonerated the code).  When both records carry fingerprints
    # and they differ, ratios are printed but regressions are ADVISORY — the
    # gate cannot attribute them to code.
    fixture_boundary = bool(old_fix and new_fix and old_fix != new_fix)
    if fixture_boundary:
        changed = sorted(t for t in set(old_fix) | set(new_fix)
                         if old_fix.get(t) != new_fix.get(t))
        print(f"fixture boundary: regenerated {', '.join(changed)} — "
              "regressions reported but not gated (data identity changed)")
    common = sorted(set(old) & set(new))
    failures: list[str] = []

    print(f"{'query':40s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    for name in common:
        o, n = old[name], new[name]
        if o <= 0 or n <= 0:  # bench error marker
            continue
        ratio = n / o
        flag = ""
        if ratio > args.threshold:
            if max(o, n) < NOISE_FLOOR_S:
                flag = "  (noise)"
            else:
                flag = "  REGRESSION"
                failures.append(f"{name}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x)")
        if ratio > args.threshold or ratio < 1 / args.threshold:
            print(f"{name:40s} {o:8.2f} {n:8.2f} {ratio:7.2f}{flag}")
        if flag == "  REGRESSION" and name in old_layers and name in new_layers:
            print(f"{'':40s} moved: "
                  f"{moved_layer(old_layers[name], new_layers[name])}")

    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"dropped from new: {', '.join(only_old)}")
    if only_new:
        print(f"added in new: {', '.join(only_new)}")

    tot_o = sum(old[k] for k in common if old[k] > 0)
    tot_n = sum(new[k] for k in common if new[k] > 0)
    print(f"\ncommon-query total: {tot_o:.1f}s -> {tot_n:.1f}s "
          f"({tot_n / tot_o:.2f}x) over {len(common)} common queries")

    if failures:
        print(f"\n{len(failures)} regression(s) past {args.threshold}x:",
              file=sys.stderr)
        for f in failures:
            print(f"  {f}", file=sys.stderr)
        if fixture_boundary:
            print("advisory only: fixture fingerprints differ between the "
                  "records", file=sys.stderr)
            return 0
        return 1
    print(f"no regressions past {args.threshold}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
