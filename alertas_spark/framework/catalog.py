"""Catalog backends: where logical ``<schema>.<table>`` names bind to storage.

The reference is Hive-metastore-native — ``enableHiveSupport()`` at session build
(``/root/reference/src/alertas/base.py:10-14``) and ``saveAsTable``/``spark.table``
throughout (``jobs.py:183-185``).  The rebuild keeps that choice open behind one
protocol with two backends:

* :class:`PathCatalog` — tables are parquet directories under a warehouse root
  (``<root>/<schema>/<table>.parquet``).  What the tests and the driver sandbox use;
  no metastore service required.  Like a metastore lookup, a read runs no Spark
  job: the schema comes from one footer read on the driver (``sources.parquet``).
* :class:`MetastoreCatalog` — tables live in the session catalog (Hive metastore in
  production, Spark's in-memory session catalog in tests): ``spark.table``,
  ``saveAsTable``, ``DROP TABLE``.  Partitioned overwrites go through ``insertInto``
  so the session's dynamic partition-overwrite mode (session.py) rewrites only the
  partitions present in the incoming frame — the S10 semantics on a real catalog.

Both enforce the same contract, pinned by tests/test_catalog.py against each backend.
"""

from __future__ import annotations

import os
import shutil
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from alertas_spark.sources import parquet


class Catalog(Protocol):
    """Minimal table surface the alert engine needs (SURVEY §2.1 S1/S7-S12)."""

    def table(self, spark: SparkSession, schema: str, name: str) -> DataFrame: ...

    def table_exists(self, spark: SparkSession, schema: str, name: str) -> bool: ...

    def write_table(self, spark: SparkSession, schema: str, name: str, df: DataFrame,
                    mode: str = "overwrite", partition_by: str | None = None,
                    coalesce: int | None = None) -> None: ...

    def drop_table(self, spark: SparkSession, schema: str, name: str) -> None: ...


def _shape(df: DataFrame, coalesce: int | None) -> DataFrame:
    # small-file control (≙ the reference's coalesce(20) sized for its 75-core
    # cluster, jobs.py:277): cap output files without a shuffle
    return df.coalesce(coalesce) if coalesce else df


class PathCatalog:
    """Parquet directories under a warehouse root — the sandbox/test backend.

    :meth:`table` reads through ``parquet.read``: the schema is one driver-side
    footer read, so binding a table launches no Spark job."""

    def __init__(self, root: str):
        self.root = root

    def path(self, schema: str, name: str) -> str:
        return os.path.join(self.root, schema, f"{name}.parquet")

    def table(self, spark: SparkSession, schema: str, name: str) -> DataFrame:
        return parquet.read(spark, self.path(schema, name))

    def table_exists(self, spark: SparkSession, schema: str, name: str) -> bool:
        return os.path.exists(self.path(schema, name))

    def write_table(self, spark: SparkSession, schema: str, name: str, df: DataFrame,
                    mode: str = "overwrite", partition_by: str | None = None,
                    coalesce: int | None = None) -> None:
        w = _shape(df, coalesce).write.mode(mode)
        if partition_by:
            # with spark.sql.sources.partitionOverwriteMode=dynamic (session.py),
            # overwrite touches only the partitions present in ``df``
            w = w.partitionBy(partition_by)
        w.parquet(self.path(schema, name))

    def drop_table(self, spark: SparkSession, schema: str, name: str) -> None:
        shutil.rmtree(self.path(schema, name), ignore_errors=True)


class MetastoreCatalog:
    """Session-catalog backend: Hive metastore in production (enableHiveSupport at
    session build), Spark's in-memory catalog in tests — same API either way."""

    def __init__(self, database_prefix: str = ""):
        #: optional namespace prefix, e.g. ``dev_`` → ``dev_exadata.mcpr_documento``
        self.database_prefix = database_prefix

    def qualified(self, schema: str, name: str) -> str:
        return f"{self.database_prefix}{schema}.{name}"

    def _ensure_database(self, spark: SparkSession, schema: str) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database_prefix}{schema}")

    def table(self, spark: SparkSession, schema: str, name: str) -> DataFrame:
        return spark.table(self.qualified(schema, name))

    def table_exists(self, spark: SparkSession, schema: str, name: str) -> bool:
        return spark.catalog.tableExists(self.qualified(schema, name))

    def write_table(self, spark: SparkSession, schema: str, name: str, df: DataFrame,
                    mode: str = "overwrite", partition_by: str | None = None,
                    coalesce: int | None = None) -> None:
        self._ensure_database(spark, schema)
        out = _shape(df, coalesce)
        qualified = self.qualified(schema, name)
        if partition_by and mode == "overwrite" \
                and self.table_exists(spark, schema, name):
            # ≙ S10: dynamic partition overwrite — insertInto respects the session's
            # partitionOverwriteMode and rewrites only the incoming partitions,
            # where saveAsTable(overwrite) would drop the whole table.
            # insertInto binds POSITIONALLY (and saveAsTable stores partition
            # columns last), so align to the existing table's column order by
            # name first — otherwise a caller whose frame has a different column
            # order writes values into the wrong columns silently.
            table_cols = spark.table(qualified).columns
            out.select(*table_cols).write.mode("overwrite").insertInto(qualified)
            return
        w = out.write.mode(mode)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.saveAsTable(qualified)

    def drop_table(self, spark: SparkSession, schema: str, name: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self.qualified(schema, name)}")
