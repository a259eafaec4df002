"""Catalog binding — logical table names → storage.

The reference resolves every input through the Hive metastore
(``spark.table('<schema>.<table>')``, ``/root/reference/src/alertas/jobs.py:190,195``) and
names intermediates with temp views (``jobs.py:191,196,248``).  The rebuild keeps the same
two-level model but binds names to parquet directories (the driver testdata) or to any
Spark catalog database when running on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from alertas_spark.sources import parquet

#: Driver-generated testdata tables (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (LTZ) whatever the parquet encoding.

    The driver testdata has shipped three encodings across rounds: parquet
    TIMESTAMP(NANOS) (read as ``bigint`` via the nanosAsLong legacy conf),
    TIMESTAMP(MICROS) without timezone (read as ``timestamp_ntz``), and plain
    TIMESTAMP.  Session TZ is pinned UTC (session.py), so the NTZ→LTZ cast is a
    pure relabel — wall-clock values, and therefore the DuckDB oracle results,
    are unchanged.  Dispatch on the observed dtype so all three load identically."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # TIMESTAMP(NANOS) read as long: rebuild µs timestamps
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.  Parquet scan → column pruning + predicate pushdown
    happen automatically once downstream operators select/filter.

    Timestamp-family columns arrive in encoding-of-the-round (the fixture
    generator has shipped NANOS, NTZ-MICROS, and plain TIMESTAMP across rounds);
    every table normalizes to session-TZ TIMESTAMP so event-time operators and
    temporal functions behave identically regardless of producer encoding.  The
    casts sit on top of the scan and do not block pushdown of other predicates.

    The schema comes from one footer read on the driver (``parquet.read``),
    so a read runs no Spark job.  ``events`` sets the nanosAsLong conf
    first: its footer converts under it."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(parquet.read(spark, path))
    df = parquet.read(spark, path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = normalize_event_ts(df, col)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every testdata table as a temp view (≙ the reference's base-view setup,
    ``jobs.py:190-196``) so SQL-form queries can reference them by name."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
