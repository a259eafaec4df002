"""Parquet reads go through ``sources.parquet``: Spark's schema, no Spark job.

``parquet.read`` must hand back exactly the frame ``spark.read.parquet``
would (names, types, nullability, order; the same error on a missing path)
while launching no schema-inference job, and no module under
``alertas_spark/`` may read parquet any other way.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

from tests.conftest import FIXTURE_DIR
from tests.test_plan_shapes import SF, spark_jobs

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "alertas_spark")

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def _assert_same_schema(spark, path):
    from alertas_spark.sources import parquet

    want = spark.read.parquet(path).schema
    assert _fields(parquet.read(spark, path).schema) == _fields(want), path


def test_schema_matches_inference_on_mprj_fixtures(spark, mprj_warehouse):
    paths = sorted(glob.glob(os.path.join(mprj_warehouse, "*", "*.parquet")))
    assert len(paths) >= 28
    for path in paths:
        _assert_same_schema(spark, path)


@pytest.mark.parametrize("nanos", ["false", "true"])
def test_schema_matches_inference_on_testdata(spark, nanos):
    from alertas_spark.sources.catalog import TABLES

    before = spark.conf.get(NANOS, "false")
    spark.conf.set(NANOS, nanos)
    try:
        for name in TABLES:
            _assert_same_schema(spark, os.path.join(SF, f"{name}.parquet"))
    finally:
        spark.conf.set(NANOS, before)


def test_schema_matches_inference_on_spark_written_tables(spark, tmp_path):
    """A dt_partition directory (its partition column stays a string under
    the session's partition typing), a 4-file staging directory with its
    ``_SUCCESS`` and ``.crc`` siblings, and an empty write."""
    part = str(tmp_path / "hist.parquet")
    (spark.range(60).selectExpr("id", "CAST(id * 0.5 AS DECIMAL(10,2)) AS v",
                                "CAST(202401 + id % 3 AS STRING) AS dt_partition")
     .write.partitionBy("dt_partition").parquet(part))
    assert dict(spark.read.parquet(part).dtypes)["dt_partition"] == "string"
    _assert_same_schema(spark, part)

    staging = str(tmp_path / "staging")
    spark.range(40).selectExpr("id", "CAST(id AS STRING) AS s",
                               "TIMESTAMP'2024-01-01 00:00:00' AS ts") \
        .repartition(4).write.parquet(staging)
    assert len(glob.glob(os.path.join(staging, "part-*"))) == 4
    _assert_same_schema(spark, staging)

    empty = str(tmp_path / "empty")
    spark.range(5).selectExpr("id", "ARRAY(CAST(id AS DOUBLE)) AS a") \
        .limit(0).write.parquet(empty)
    _assert_same_schema(spark, empty)
    assert _fields(spark.read.parquet(empty).schema) != []


def test_summary_files_win_in_sparks_order(spark, tmp_path):
    """Spark's inference reads ``_common_metadata``, else ``_metadata``, else
    the first data file: each summary below carries a schema of its own, and
    the data file's name sorts before both."""
    import shutil

    def single_file(name, sql):
        out = str(tmp_path / name)
        spark.range(3).selectExpr(*sql).coalesce(1).write.parquet(out)
        return glob.glob(os.path.join(out, "part-*.parquet"))[0]

    table = tmp_path / "table"
    table.mkdir()
    shutil.copy(single_file("data", ["id"]), table / "0.parquet")
    table = str(table)
    for summary, extra in (("_metadata", "'x' AS extra"),
                           ("_common_metadata", "0.5 AS other")):
        shutil.copy(single_file(summary, ["id", extra]),
                    os.path.join(table, summary))
        assert extra.split()[-1] in spark.read.parquet(table).columns
        _assert_same_schema(spark, table)


def test_missing_path_raises_sparks_own_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from alertas_spark.sources import parquet

    missing = str(tmp_path / "nope.parquet")
    conditions = []
    for read in (lambda: spark.read.parquet(missing),
                 lambda: parquet.read(spark, missing)):
        with pytest.raises(AnalysisException) as err:
            read()
        conditions.append(err.value.getCondition())
    assert conditions == ["PATH_NOT_FOUND"] * 2


def test_table_reads_launch_no_spark_job(spark, mprj_warehouse):
    """``PathCatalog.table`` and ``load_table`` bind a table without running
    a job (``spark.read.parquet`` runs one schema-inference job per call)."""
    from alertas_spark.framework.catalog import PathCatalog
    from alertas_spark.sources.catalog import TABLES, load_table

    cat = PathCatalog(FIXTURE_DIR)
    for schema, name in (("exadata", "mcpr_documento"),
                         ("exadata_aux", "mmps_alias")):
        assert spark_jobs(spark, lambda: cat.table(spark, schema, name)) == 0
    for name in TABLES:
        assert spark_jobs(spark, lambda: load_table(spark, SF, name)) == 0
    assert spark_jobs(spark, lambda: spark.read.parquet(
        cat.path("exadata", "mcpr_documento"))) == 1  # the probe sees jobs


def _batch_parquet_reads(path: str) -> list[int]:
    """Lines of ``<..>.read<..>.parquet(..)`` calls: a ``parquet`` call whose
    receiver chain passes through a ``read`` attribute (``readStream`` and
    ``write`` chains do not)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    lines = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"):
            continue
        x = node.func.value
        while isinstance(x, (ast.Call, ast.Attribute)):
            if isinstance(x, ast.Attribute) and x.attr == "read":
                lines.append(node.lineno)
                break
            x = x.func if isinstance(x, ast.Call) else x.value
    return lines


def test_parquet_is_read_only_through_the_helper():
    helper = os.path.join(PKG, "sources", "parquet.py")
    found = {}
    for root, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if fn.endswith(".py") and path != helper:
                lines = _batch_parquet_reads(path)
                if lines:
                    found[os.path.relpath(path, PKG)] = lines
    assert not found, found
    assert _batch_parquet_reads(helper), "the scan no longer sees the helper's read"
