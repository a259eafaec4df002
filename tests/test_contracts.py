"""Schema-contract drift detection (sources/contracts.py).

The TIMESTAMP_NTZ incident class: upstream re-encodes or drops a column, and the
failure should be a named boundary finding, not a runtime AnalysisException two
stages into a streaming plan.
"""

from __future__ import annotations

import os

import pytest

from alertas_spark.sources.contracts import EXPECTED, report, verify_schemas

SF = "/root/testdata/sf0.01"


def test_current_testdata_has_no_errors(spark):
    findings = verify_schemas(spark, SF)
    errors = [f for f in findings if f.level == "ERROR"]
    assert errors == [], report(errors)


def test_ntz_timestamp_drift_is_warn_not_error(spark):
    # the current fixtures ship events.ts / o_orderdate / l_shipdate as
    # TIMESTAMP_NTZ — exactly the drift the contract must tolerate (WARN) because
    # normalize_event_ts absorbs it
    findings = verify_schemas(spark, SF, tables=("events",))
    ts = [f for f in findings if f.column == "ts"]
    assert all(f.level == "WARN" for f in ts)


def test_missing_column_and_type_change_are_errors(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # events without `value`, and user_id as string: both must be ERRORs
    tbl = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([0], pa.timestamp("us")),
        "user_id": pa.array(["u1"], pa.string()),
        "event_type": pa.array(["click"], pa.string()),
        "props": pa.array(["{}"], pa.string()),
    })
    pq.write_table(tbl, os.path.join(tmp_path, "events.parquet"))
    findings = verify_schemas(spark, str(tmp_path), tables=("events",))
    by_col = {f.column: f for f in findings if f.level == "ERROR"}
    assert by_col["value"].observed == "<missing>"
    assert by_col["user_id"].observed == "string"


def test_extra_column_is_info(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "r_regionkey": pa.array([1], pa.int32()),
        "r_name": pa.array(["EUROPE"], pa.string()),
        "r_comment": pa.array(["extra"], pa.string()),
    })
    pq.write_table(tbl, os.path.join(tmp_path, "region.parquet"))
    findings = verify_schemas(spark, str(tmp_path), tables=("region",))
    assert [f.level for f in findings] == ["INFO"]


def test_missing_table_is_error(spark, tmp_path):
    findings = verify_schemas(spark, str(tmp_path), tables=("nation",))
    assert findings and findings[0].level == "ERROR"


def test_contract_covers_all_catalog_tables():
    from alertas_spark.sources.catalog import TABLES

    assert set(TABLES) == set(EXPECTED)


def test_session_artifact_memoizes_and_clears(spark):
    from alertas_spark.operators import memo

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).localCheckpoint()

    a = memo.session_value(spark, ("t", "x"), build)
    b = memo.session_value(spark, ("t", "x"), build)
    assert a is b and len(calls) == 1
    memo.clear()
    c = memo.session_value(spark, ("t", "x"), build)
    assert len(calls) == 2 and c.count() == 3


def test_dq_audit_fires_on_a_real_violation(spark):
    """The freshness rule must fire on the fixture (dates span 1995-2001) and
    the clean-constraint rules must report zero — the audit distinguishes
    violated from satisfied rules, not just runs."""
    from alertas_spark.registry import load_all

    out = {r["rule"]: r["n_violations"] for r in
           load_all()["dq_audit_orders"].builder(
               spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {"nonpositive_totalprice", "null_orderdate",
                        "orderdate_before_1996", "bad_status",
                        "fk_custkey_missing", "total_rows"}
    assert out["orderdate_before_1996"] > 0
    assert out["total_rows"] > 0
    assert out["bad_status"] == 0 and out["null_orderdate"] == 0


def test_write_with_audit_single_pass_metrics(spark, tmp_path):
    """df.observe-based sink audit: the written rows and the audit counters
    come from ONE scan, and the counters match independent aggregation."""
    from pyspark.sql import functions as F

    from alertas_spark.sources.catalog import load_table
    from alertas_spark.sources.quality import write_with_audit

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    out = str(tmp_path / "audited")
    m = write_with_audit(orders, out, {
        "rows": F.count(F.lit(1)),
        "null_price": F.count_if(F.col("o_totalprice").isNull()),
        "negative_price": F.count_if(F.col("o_totalprice") < 0),
    })
    want = orders.agg(
        F.count(F.lit(1)), F.count_if(F.col("o_totalprice").isNull()),
        F.count_if(F.col("o_totalprice") < 0)).collect()[0]
    assert (m["rows"], m["null_price"], m["negative_price"]) == tuple(want)
    # the sink holds exactly the audited rows
    assert spark.read.parquet(out).count() == m["rows"]


def test_min_is_not_retractable_without_base(spark):
    """Pins the IVM retractability boundary (plans/merge.py,
    ivm_incremental_revenue_retract docstring): SUM/COUNT fold a delete in as
    a negative partial, but a MIN partial cannot absorb the deletion of its
    own minimum — the runner-up was discarded at aggregation time, so the
    maintained value and a from-base re-aggregation provably diverge."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [("g", 1.0), ("g", 5.0), ("g", 9.0)], "k string, v double")
    deleted_v = 1.0  # delete the row holding the group minimum

    # SUM retracts exactly: partial + (-v) == re-aggregated truth
    part_sum = base.groupBy("k").agg(F.sum("v").alias("s")).collect()[0].s
    truth = base.filter(F.col("v") != deleted_v)
    assert part_sum - deleted_v == truth.agg(F.sum("v")).collect()[0][0]

    # MIN does not: the snapshot partial only knows min=1.0; after deleting
    # that row the true min is 5.0, unrecoverable from the partial alone
    part_min = base.groupBy("k").agg(F.min("v").alias("m")).collect()[0].m
    true_min = truth.agg(F.min("v")).collect()[0][0]
    assert part_min == deleted_v and true_min == 5.0
    assert part_min != true_min  # re-aggregation from base is REQUIRED
