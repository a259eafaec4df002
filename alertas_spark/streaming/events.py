"""Structured Streaming re-expression of the event-stream operators.

The reference is batch-only (SURVEY §2.9) — recency is encoded as predicates over
``current_date()`` (e.g. last-30-days, alerta_mvvd.py:41).  This module gives the
rebuild the streaming surface those semantics imply, over the driver's ``events``
table used as a file-streaming source:

* ``tumbling_counts`` — watermarked tumbling-window aggregation; complete-mode replay
  of the full table is bit-equal to the batch ``events_tumbling_5min`` operator (the
  equivalence is asserted by the driver oracle AND tests/test_streaming.py);
* ``session_aggregates`` — native ``session_window`` (gap-based), the streaming twin
  of the batch gaps-and-islands sessionization;
* ``user_running_totals`` — a custom stateful operator via ``applyInPandasWithState``
  (Arrow-batched, per-user state), the pattern for operators Spark's built-ins can't
  express (SURVEY §7 extension c).

At scale: file-source streaming shards input by file; the window/session aggregations
shuffle once on (window, key) with partial aggregation map-side, and state lives in
the executors' state store keyed by user — no driver materialization anywhere.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from alertas_spark.functions.numeric import dsum
from alertas_spark.operators.sessionize import SESSION_GAP_S, WINDOW
from alertas_spark.sources.parquet import footer_schema


def _stream_source_dir(sf_dir: str, table: str) -> tuple[str, str]:
    """(stream_dir, source_path) for a file-stream source over one table.

    The file stream source requires a DIRECTORY and globs every parquet file
    in it, so each table gets its OWN scratch subdir (events and documents
    sharing one dir would cross-read each other's files) holding a symlink to
    the single-file fixture table.  A table that is ALREADY a directory of
    part files streams straight from its own path — no scratch dir (a
    symlinked subdirectory inside one would be skipped by the file lister,
    which only globs files)."""
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        return path, path
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    stream_dir = os.path.join(repo_root, ".fixtures", "stream",
                              os.path.basename(os.path.normpath(sf_dir)), table)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, f"{table}.parquet")
    # lexists + retarget: a stale run can leave a DANGLING symlink here (its
    # tmp fixture dir is gone), which os.path.exists reports as absent while
    # os.symlink still collides; same-basename fixtures may also need the
    # link repointed at a new target
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(path):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(path, link)
    return stream_dir, path


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the events table (schema from one footer
    read on the driver, ``sources.parquet`` — no scan, no Spark job).

    Table-scoped scratch subdirs keep any other streamed table's files out of
    this source's glob (a sibling file would cross-read; a sibling SUBDIR
    would read as a partition directory)."""
    stream_dir, path = _stream_source_dir(sf_dir, "events")
    # events.ts encoding varies by testdata round (nanos-as-long / NTZ micros /
    # plain timestamp) — same dtype dispatch as the batch loader.
    from alertas_spark.sources.catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = spark.readStream.schema(footer_schema(spark, path)).parquet(stream_dir)
    return normalize_event_ts(stream)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-streaming source over the documents table — the corpus-ingest
    seam: the same parquet relation the batch cleaning operators read, driven
    incrementally (no time encoding to normalize; documents carry no event
    time)."""
    stream_dir, path = _stream_source_dir(sf_dir, "documents")
    return spark.readStream.schema(footer_schema(spark, path)).parquet(stream_dir)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling window ≙ batch events_tumbling_5min."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
                "event_type", "n_events", "total_value")
    )


def session_aggregates(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Native gap-based session windows ≙ batch events_sessionize (30-min gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 4).alias("total_value"))
        .select("user_id", F.col("s.start").alias("session_start"),
                "n_events", "total_value")
    )


# State keeps the accumulator as a scaled long of micro-units (value × 1e6), NOT
# a double: a double round-trip through the state store loses exactness once a
# running total passes ~15 significant digits, silently breaking the bit-equality
# contract on long-lived keys across micro-batches.  A long holds ±9.2e12 units
# exactly — and overflows loudly, never rounds.
_STATE_SCHEMA = "n_events long, total_micro long"
_OUT_SCHEMA = "user_id long, n_events long, total_value double"


def quantize_micro(vals) -> "pd.Series":
    """Vectorized ROUND_HALF_UP of float64 values to 6-decimal micro-units
    (int64), bit-equal to ``Decimal(float(v)).quantize(1e-6, HALF_UP)`` per row.

    Sign-aware floor/ceil gives half-AWAY-from-zero (np.rint would round
    half-to-even).  The ``v * 1e6`` double multiply itself rounds and can move a
    value onto — or off — the .5 boundary spuriously, so the fast path is
    trusted only when the fractional part is more than a few ULPs away from .5;
    the rare boundary-suspect rows are recomputed exactly via Decimal, which
    works on the full binary expansion of the double."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    x = np.asarray(vals, dtype="float64") * 1e6
    if not np.isfinite(x).all():
        # NaN/inf would cast to garbage int64 silently; the determinism
        # contract fails loudly instead (matches the Decimal path it replaced)
        raise ValueError("quantize_micro: non-finite value")
    micro = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype("int64")
    frac = np.abs(x - np.trunc(x))
    suspect = np.abs(frac - 0.5) <= 8 * np.spacing(np.abs(x) + 1.0)
    if suspect.any():
        q6 = Decimal("0.000001")
        v = np.asarray(vals, dtype="float64")
        for i in np.flatnonzero(suspect):
            micro[i] = int(Decimal(float(v[i]))
                           .quantize(q6, rounding=ROUND_HALF_UP).scaleb(6))
    return micro


def _update_totals(key, batches: Iterator[pd.DataFrame], state: GroupState):
    # Same determinism contract as functions/numeric.dsum: quantize each double to
    # 6 decimals, accumulate exactly in integer micro-units (order-independent
    # across Arrow batches, shuffle partitionings, AND micro-batch replays — the
    # persisted accumulator is lossless), emit rounded half-up to 4 — so the
    # full-replay output is bit-equal to the batch GROUP BY oracle.
    from decimal import ROUND_HALF_UP, Decimal

    q4 = Decimal("0.0001")
    n, acc_micro = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        acc_micro += int(quantize_micro(pdf["value"].to_numpy(dtype="float64")).sum())
    state.update((n, acc_micro))
    emit = float(Decimal(acc_micro).scaleb(-6).quantize(q4, rounding=ROUND_HALF_UP))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [emit]})


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count / value total kept in
    the state store (``applyInPandasWithState``, Arrow-batched — the slow-path escape
    hatch done right, SURVEY §7)."""
    return (
        events.select("user_id", "value")  # minimize the Arrow transfer per batch
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(result: DataFrame, output_mode: str = "complete",
                  shuffle_partitions: int | None = None) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a memory sink and
    return the materialized result — the harness bridge for the batch-equality
    oracles.  Memory sink is test-only; production uses parquet/kafka sinks.

    ``shuffle_partitions`` sizes the state-store shuffle for this query (restored
    after): stateful ops pay a per-partition Python-worker + state-store cost per
    micro-batch, so the count should track key cardinality / executor count, not the
    global shuffle default (32 → 8 is 4× on the fixture-scale state query)."""
    spark = result.sparkSession
    name = f"stream_result_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (result.writeStream.format("memory").queryName(name)
             .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    # localCheckpoint then DROP the sink table: the memory sink pins its rows
    # in the driver for as long as the table stays registered, so a session
    # running many streaming queries (bench: 11 queries × 2 cold passes)
    # accumulates permanent driver-memory tables.  Checkpoint blocks are
    # GC-reclaimed with the returned DataFrame (ContextCleaner); catalog
    # entries are not.
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return out
