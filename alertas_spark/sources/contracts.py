"""Input schema contracts: declared expectations per source table + drift report.

Motivation: the event table's parquet timestamp encoding silently changed between
fixture generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS) without timezone), which
surfaced only as deep runtime failures (``withWatermark`` rejecting TIMESTAMP_NTZ)
two stages into a streaming plan.  At 100 TB against external producers this class
of drift is routine — upstream teams re-encode, add columns, widen ints.  A
contract check at the pipeline boundary turns it into a named, actionable finding
before any query runs.

The contract is deliberately *tolerant where the engine is tolerant*:

* extra columns are reported as INFO (projection pruning makes them free);
* ``timestamp`` family drift (ntz / ltz / nanos-as-long) is WARN, because
  :func:`alertas_spark.sources.catalog.normalize_event_ts` absorbs it;
* integer widenings (int32 → int64) are WARN (safe upcast on read);
* missing columns and incompatible type changes are ERROR — queries WILL break.

``verify_schemas`` is driver-light: it reads one parquet FOOTER per table on
the driver (``sources.parquet``: Spark's own footer-to-schema conversion, no
inference job), never data, so it is metadata work that can run at job start on
any scale.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from alertas_spark.sources import parquet

#: canonical column → Spark simpleString dtype per testdata table (TESTDATA.md).
#: ``timestamp*`` means: any member of {timestamp, timestamp_ntz, bigint} — the
#: encodings normalize_event_ts dispatches on.
EXPECTED: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {"c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
                 "c_acctbal": "double", "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
                 "s_acctbal": "double"},
    "part": {"p_partkey": "bigint", "p_name": "string", "p_brand": "string",
             "p_type": "string", "p_size": "int", "p_retailprice": "double"},
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderdate": "timestamp*", "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "bigint", "l_partkey": "bigint",
                 "l_suppkey": "bigint", "l_linenumber": "int",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp*"},
    "events": {"event_id": "bigint", "ts": "timestamp*", "user_id": "bigint",
               "event_type": "string", "value": "double", "props": "string"},
    "documents": {"doc_id": "bigint", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>",
                   "label": "int"},
}

#: timestamp-family encodings the loaders normalize (catalog.normalize_event_ts)
_TS_FAMILY = {"timestamp", "timestamp_ntz", "bigint"}

#: widenings that are safe on read (reported WARN, not ERROR)
_SAFE_WIDENINGS = {("int", "bigint"), ("float", "double"),
                   ("array<float>", "array<double>")}


@dataclass(frozen=True)
class Finding:
    table: str
    column: str
    level: str  # ERROR | WARN | INFO
    expected: str
    observed: str
    note: str


def _check_column(table: str, col: str, want: str, got: str | None) -> Finding | None:
    if got is None:
        return Finding(table, col, "ERROR", want, "<missing>",
                       "declared column absent — dependent queries will fail")
    if want == "timestamp*":
        if got in _TS_FAMILY:
            level = "WARN" if got != "timestamp" else None
            return None if level is None else Finding(
                table, col, "WARN", want, got,
                "timestamp-encoding drift; normalize_event_ts absorbs it")
        return Finding(table, col, "ERROR", want, got,
                       "not a recognized timestamp encoding")
    if got == want:
        return None
    if (want, got) in _SAFE_WIDENINGS:
        return Finding(table, col, "WARN", want, got, "safe widening on read")
    return Finding(table, col, "ERROR", want, got, "incompatible type change")


def verify_schemas(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] | None = None) -> list[Finding]:
    """Footer-only schema drift check of every source table against EXPECTED:
    each table's schema is ``parquet.read``'s — Spark's inferred schema, read
    from one footer on the driver without a Spark job."""
    findings: list[Finding] = []
    for table in tables or tuple(EXPECTED):
        want = EXPECTED[table]
        path = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(path):
            findings.append(Finding(table, "*", "ERROR", "<table>", "<missing>",
                                    "source file absent"))
            continue
        got = dict(parquet.read(spark, path).dtypes)
        for col, want_t in want.items():
            f = _check_column(table, col, want_t, got.get(col))
            if f:
                findings.append(f)
        for col in got:
            if col not in want:
                findings.append(Finding(table, col, "INFO", "<undeclared>",
                                        got[col],
                                        "extra column — pruned unless selected"))
    return findings


def report(findings: list[Finding]) -> str:
    """Human-readable drift report (one line per finding, ERRORs first)."""
    order = {"ERROR": 0, "WARN": 1, "INFO": 2}
    lines = [f"{f.level:5} {f.table}.{f.column}: expected {f.expected}, "
             f"observed {f.observed} — {f.note}"
             for f in sorted(findings, key=lambda f: (order[f.level], f.table))]
    return "\n".join(lines) if lines else "all source schemas match contracts"
