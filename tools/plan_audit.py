"""Physical-plan audit over the declared-query corpus.

For every query, inspects the formatted physical plan and reports the signals that
matter at 100 TB:

* ``scans``       — parquet scans, with ``PushedFilters`` / ``ReadSchema`` width;
* ``bhj/smj/bnl`` — broadcast-hash vs sort-merge vs nested-loop join counts;
* ``exchanges``   — shuffle count (the scale cost driver);
* ``codegen``     — WholeStageCodegen span count vs interpreted operators;
* ``py``          — Python-eval nodes (MapInArrow / MapInPandas /
  ArrowEvalPython / BatchEvalPython): where rows leave the JVM for a worker;
* flags: full-width scans (no column pruning), non-broadcast joins against tiny
  inputs, cartesian products;
* ``plan``        — sha1 (12 hex) of the optimized logical plan (cached
  relations by their own optimized logical plans, every field printed) with
  ``#N`` exprIds, ``@hash`` object identities, lambda-variable and
  ``_common_expr_N`` counters masked; each query is built twice and the
  column reads ``unstable`` when the two builds' digests differ
  (``decontaminate_overlap`` can order its distinct-aggregate groups by the
  session's exprId counter), so a cross-checkout diff never reads a false
  change, and
  ``oracle`` — sha1 of the oracle SQL with all whitespace and the checkout
  path removed: two checkouts whose rows print the same digests build the
  same plans against the same oracles.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _sha(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()[:12]


def _plan_text(plan, optimizer, depth: int = 0) -> str:
    """``plan`` one node a line, each cached relation replaced by its optimized
    logical plan: the physical plan it holds prints AQE state that depends on
    whether an earlier query already ran it."""
    if plan.getClass().getSimpleName() == "InMemoryRelation":
        plan = optimizer.execute(plan.cacheBuilder().logicalPlan())
    lines = ["  " * depth + plan.simpleString(1_000_000)]
    kids = plan.children()
    for i in range(kids.length()):
        lines.append(_plan_text(kids.apply(i), optimizer, depth + 1))
    return "\n".join(lines)


def plan_text(df) -> str:
    return _plan_text(df._jdf.queryExecution().optimizedPlan(),
                      df.sparkSession._jsparkSession.sessionState().optimizer())


def plan_digest(plan: str) -> str:
    """``plan`` with the per-run values masked: exprIds, the identity hashes
    that object-valued literals print, and the session counters PySpark
    numbers its lambda variables with and Spark its ``_common_expr_N``
    common-subexpression aliases with."""
    plan = re.sub(r"(lambda \w+?_|_common_expr_)\d+", r"\1", plan)
    return _sha(re.sub(r"#\d+|@[0-9a-f]+\b", "#", plan))


def plan_column(first: str, second: str) -> str:
    """The ``plan`` column for two builds' plans of one query: their digest,
    or ``unstable`` when the digests differ."""
    digest = plan_digest(first)
    return digest if plan_digest(second) == digest else "unstable"


def oracle_digest(sql: str | None) -> str:
    return "-" if sql is None else _sha(re.sub(r"\s+", "", sql.replace(ROOT, "")))


def audit_plan(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "exchange": len(re.findall(r"\(\d+\) Exchange", plan)),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        # cache reuse: consumers of a .cache()'d stage read InMemoryTableScan at
        # runtime; the parquet scans listed under its InMemoryRelation are the
        # cache-POPULATION lineage (executed once), not per-consumer re-reads —
        # so read `scans` alongside this column, not alone (alerta_prcr).
        "imts": len(re.findall(r"InMemoryTableScan", plan)),
        "py": len(re.findall(r"\(\d+\) (?:MapInArrow|MapInPandas|"
                             r"ArrowEvalPython|BatchEvalPython)\b", plan)),
    }


def main() -> None:
    from alertas_spark.registry import load_all
    from alertas_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    registry = load_all()
    print(f"{'query':36} scans pushed bhj smj shj bnlj cart exch codegen imts py "
          f"{'plan':12} {'oracle':12}")
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        try:
            first = plan_text(q.builder(spark, sf_dir))
            df = q.builder(spark, sf_dir)
            plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
                .explainString(df._jdf.queryExecution(), "formatted")
            digest = plan_column(first, plan_text(df))
        except Exception as ex:
            print(f"{name:36} ERROR {str(ex)[:60]}")
            continue
        a = audit_plan(plan)
        flags = []
        if a["cartesian"]:
            flags.append("CARTESIAN")
        if a["smj"] and "alerta" not in name and a["bhj"] == 0:
            flags.append("no-broadcast")
        print(f"{name:36} {a['scans']:5} {a['pushed']:6} {a['bhj']:3} {a['smj']:3} "
              f"{a['shj']:3} {a['bnlj']:4} {a['cartesian']:4} {a['exchange']:4} "
              f"{a['codegen']:7} {a['imts']:4} {a['py']:2} {digest:12} "
              f"{oracle_digest(q.oracle):12}  {' '.join(flags)}")


if __name__ == "__main__":
    main()
