"""Declared-query registry.

Every operator from SURVEY.md §2 (plus the extension operators) is exposed as a
*declared query*: a named builder ``(spark, sf_dir) -> DataFrame`` with an optional
DuckDB-oracle SQL string.  The driver (and our own tests) run both sides at sf0.01 and
compare row-count + schema + order-insensitive value hash.

This mirrors the reference's plugin protocol — each ``alerta_<sigla>(options) ->
DataFrame`` module function registered in a dict (``/root/reference/src/alertas/
jobs.py:98-119``) — generalized with the oracle attached for testability.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class DeclaredQuery:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → rows-only check (non-SQL-expressible op)
    doc: str


REGISTRY: dict[str, DeclaredQuery] = {}

#: Modules whose import populates the registry.
#:
#: Import order is the freshness scheduler's TIEBREAK and its cold-start
#: fallback (no CORRECTNESS artifacts → this order verbatim): the product
#: surface (the 20 alerta_* queries — the reference's entire job catalog,
#: jobs.py:98-119) and the streaming + extension operators first, the TPC-H
#: style §2 micro-queries last.  With artifacts present, window_order()
#: computes the actual driver window from driver history.
_QUERY_MODULES = (
    "alertas_spark.plans.alert_corpus",
    "alertas_spark.streaming.queries",
    "alertas_spark.operators.dedup",
    "alertas_spark.operators.fuzzy",
    "alertas_spark.operators.substring",
    "alertas_spark.operators.simsearch",
    "alertas_spark.operators.kmeans",
    "alertas_spark.operators.semantic",
    "alertas_spark.operators.pq",
    "alertas_spark.operators.textops",
    "alertas_spark.operators.rulebattery",
    "alertas_spark.operators.minkprob",
    "alertas_spark.operators.kneser_ney",
    "alertas_spark.operators.bpe",
    "alertas_spark.operators.wordpiece",
    "alertas_spark.operators.ulm",
    "alertas_spark.operators.bpe_bytes",
    "alertas_spark.operators.sessionize",
    "alertas_spark.operators.asof",
    "alertas_spark.operators.multimodal",
    "alertas_spark.operators.clipgate",
    "alertas_spark.operators.profiling",
    "alertas_spark.operators.skew_mitigation",
    "alertas_spark.operators.sampling",
    "alertas_spark.operators.dsir",
    "alertas_spark.operators.classifier",
    "alertas_spark.operators.logreg",
    "alertas_spark.operators.bloom",
    "alertas_spark.operators.countmin",
    "alertas_spark.operators.packing",
    "alertas_spark.operators.pipeline",
    # reads the five decontamination axis oracles out of REGISTRY at declare
    # time — must load after textops/bloom/dedup/simsearch/minkprob
    "alertas_spark.operators.decon_panel",
    "alertas_spark.operators.graph",
    # range_bin loads before the §2 micro-modules so its (unique, first-time in r3)
    # driver row lands inside the 50-query window ahead of the redundant micros.
    "alertas_spark.plans.range_bin",
    "alertas_spark.plans.windows",
    "alertas_spark.sources.quality",
    "alertas_spark.plans.merge",
    "alertas_spark.plans.subqueries",
    "alertas_spark.plans.timeseries",
    "alertas_spark.functions.udafs",
    "alertas_spark.plans.semistructured",
    "alertas_spark.plans.joins",
    "alertas_spark.plans.aggregates",
    "alertas_spark.plans.relational",
    "alertas_spark.plans.dates",
    "alertas_spark.plans.sets",
)


def declare(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn`` as the builder for declared query ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate declared query: {name}")
        REGISTRY[name] = DeclaredQuery(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver-window freshness scheduler
# ---------------------------------------------------------------------------
# The driver oracle-checks the FIRST 50 registry entries each round, while the
# full corpus stays exact-oracle-checked locally every round by
# tools/verify_local.py + pytest.  With >50 queries, a fixed order starves the
# tail of driver coverage (r1/r2 checked the micro-queries, r3/r4 the product
# surface — by r4 half the corpus had 2-round-old driver rows).  Instead of
# hand-rotating a priority list per round, load order is computed from the
# driver's own CORRECTNESS_r*.json artifacts:
#
#   1. queries whose MOST RECENT driver row is red  (fix verification first),
#   2. queries the driver has never checked (new operators — "touched since
#      forever", staleness −1) and queries whose DECLARING MODULE changed
#      since their last driver check (a green row against old code verifies
#      nothing — r14 proved the gap: the whitespace-seam fix touched
#      operators/pipeline.py but none of the three pipeline queries rotated
#      into the r14 window), stalest first,
#   3. everything else, stalest last-green round first,
#
# with registry insertion order (product surface first) as the deterministic
# tiebreak and the cold-start fallback when no artifacts exist.  Artifacts only
# change between rounds, so the order is stable within a round and rotates by
# itself across rounds — every query's driver row stays as fresh as a 50-slot
# window over the corpus arithmetically allows.
#
# "Changed since" is decided from git, not mtimes (a fresh checkout resets
# every mtime to clone time, which would mark the whole corpus touched): a
# query is touched iff the last commit touching its builder's source file is
# newer than the last commit touching the CORRECTNESS artifact of the round
# that last checked it; files dirty in the working tree count as touched now.
# Granularity is the DECLARING module — a query composing helpers from a
# second module (pipeline → textops/dedup) is caught when that helper edit
# lands, because real edits touch the composing module's round too (r14 did:
# efe515e touched pipeline.py alongside textops/dedup) and the helper
# module's own queries pin the shared expressions regardless.


def _artifact_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_history(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """``name -> (last_checked_round, was_green)`` from CORRECTNESS_r*.json.

    When reading the live artifacts (``root is None``) with the registry
    populated, rows for names no longer in the registry are dropped, so
    callers see history keyed 1:1 by current query names.  An explicit
    ``root`` (synthetic test fixtures) skips the registry filter.
    """
    import glob
    import json
    import re

    hist: dict[str, tuple[int, bool]] = {}
    paths = glob.glob(os.path.join(root or _artifact_root(),
                                   "CORRECTNESS_r*.json"))
    for p in sorted(paths):
        m = re.search(r"_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if isinstance(row, dict):
                # hash_match is authoritative when present: right cardinality +
                # wrong values must schedule as red, not count as green via
                # rows_match.  rows_match alone decides only for the weaker
                # rows-only checks (no oracle SQL → hash_match absent/None).
                hm = row.get("hash_match")
                green = bool(hm) if hm is not None else bool(row.get("rows_match"))
                prev = hist.get(name)
                if prev is None or rnd >= prev[0]:
                    hist[name] = (rnd, green)
    if root is None and REGISTRY:
        hist = {n: h for n, h in hist.items() if n in REGISTRY}
    return hist


def _git_file_times(root: str) -> dict[str, float]:
    """Repo-relative path → last-touch time: the newest commit touching the
    path, overridden by ``os.stat`` mtime for files dirty in the working tree
    (an uncommitted edit is "touched now").  One ``git log`` pass for the
    whole repo; ``{}`` when git is unavailable (callers fall back to the
    no-touch-information ordering)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", root, "log", "--pretty=format:%x00%ct",
             "--name-only"],
            capture_output=True, text=True, timeout=60, check=True).stdout
    except (OSError, subprocess.SubprocessError):
        return {}
    times: dict[str, float] = {}
    ct = 0.0
    for line in out.splitlines():
        if line.startswith("\x00"):
            ct = float(line[1:])
        elif line and line not in times:   # log is newest-first: first wins
            times[line] = ct
    try:
        dirty = subprocess.run(
            ["git", "-C", root, "status", "--porcelain"],
            capture_output=True, text=True, timeout=60, check=True).stdout
        for line in dirty.splitlines():
            p = line[3:].split(" -> ")[-1].strip().strip('"')
            full = os.path.join(root, p)
            if os.path.exists(full):
                times[p] = os.stat(full).st_mtime
    except (OSError, subprocess.SubprocessError):
        pass
    return times


def code_touched(hist: dict[str, tuple[int, bool]],
                 root: str | None = None) -> set[str]:
    """Registry names whose declaring module's source file changed after the
    CORRECTNESS artifact of the round that last driver-checked them."""
    import sys

    root = root or _artifact_root()
    times = _git_file_times(root)
    if not times:
        return set()
    touched: set[str] = set()
    for name, (rnd, _green) in hist.items():
        q = REGISTRY.get(name)
        if q is None:
            continue
        mod = sys.modules.get(q.builder.__module__)
        src = getattr(mod, "__file__", None)
        if not src:
            continue
        mod_t = times.get(os.path.relpath(os.path.abspath(src), root))
        art_t = times.get(f"CORRECTNESS_r{rnd:02d}.json",
                          times.get(f"CORRECTNESS_r{rnd}.json"))
        if mod_t is not None and art_t is not None and mod_t > art_t:
            touched.add(name)
    return touched


#: the driver oracle-checks the FIRST this-many registry entries per round.
DRIVER_WINDOW = 50

#: window slots reserved for the STALEST UNTOUCHED greens.  r15 proved the
#: touched+new classes can consume all 50 slots (15 new queries + 35
#: code-touched filled the window four rounds running, starving 24 untouched
#: §2 micros at their r11 rows) — so the touched class is capped at
#: ``DRIVER_WINDOW − STALE_RESERVE − |red ∪ new|`` and the reserve always
#: rotates the oldest driver rows forward (r15 verdict item 1).
STALE_RESERVE = 15


def window_order(names: list[str], hist: dict[str, tuple[int, bool]],
                 touched: frozenset[str] | set[str] = frozenset(),
                 ) -> list[str]:
    """Order ``names`` red-first, then the touched class stalest-first —
    where NEVER-CHECKED queries are "touched since forever" (staleness −1,
    so they lead the class: a round that touches more modules than the
    window holds must not starve a query of its FIRST driver row) — then
    stalest-green first; ties keep the given (insertion) order.

    The touched class is CAPPED so ≥ ``STALE_RESERVE`` of the driver's
    ``DRIVER_WINDOW`` slots go to the stalest untouched greens; touched
    queries past the cap queue after the reserve.  Untouched greens stay
    stalest-first as a whole (reserve + remainder preserve one sorted list),
    so the no-skipped-staleness invariant is unchanged."""
    pos = {n: i for i, n in enumerate(names)}
    red, new, tch, green = [], [], [], []
    for n in names:
        h = hist.get(n)
        if h is not None and not h[1]:
            red.append(n)                  # red at last check
        elif h is None:
            new.append(n)                  # never driver-checked
        elif n in touched:
            tch.append(n)                  # code changed since last check
        else:
            green.append(n)
    tch.sort(key=lambda n: (hist[n][0], pos[n]))
    green.sort(key=lambda n: (hist[n][0], pos[n]))
    head = red + new                       # insertion order within class
    cap = max(DRIVER_WINDOW - STALE_RESERVE - len(head), 0)
    return (head + tch[:cap] + green[:STALE_RESERVE]
            + tch[cap:] + green[STALE_RESERVE:])


def _canonical_order() -> list[str]:
    """Registry names in the DOCUMENTED module order: (position of the
    declaring module in ``_QUERY_MODULES``, declaration order within the
    module).  Raw dict-insertion order is NOT that invariant — a module that
    imports another query module at load time (streaming_corpus_manifest's
    oracle pulls in operators.bpe, which imports operators.packing)
    registers the imported module's queries early, which r14's review
    measured pushing dedup_exact outside the cold-start driver window — so
    the order is reconstructed from each builder's ``__module__``."""
    pos = {m: i for i, m in enumerate(_QUERY_MODULES)}
    names = list(REGISTRY)
    ins = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (
        pos.get(REGISTRY[n].builder.__module__, len(_QUERY_MODULES)),
        ins[n]))


def load_all() -> dict[str, DeclaredQuery]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    hist = driver_history()
    ordered = window_order(_canonical_order(), hist, code_touched(hist))
    return {n: REGISTRY[n] for n in ordered}
