"""foreachBatch upsert sink: merge update-mode streaming output into a snapshot.

The batch engine publishes alerts as a keyed snapshot table (framework/engine.py,
≙ the reference's ``jobs.py`` snapshot overwrite).  This sink is the streaming twin:
a stateful query running in **update** output mode emits only the keys whose
aggregate changed in each micro-batch, and ``foreachBatch`` merges those rows into
the snapshot — replace matching keys, keep the rest — so the snapshot always holds
the latest value per key without recomputing the world.

Merge strategy here is anti-join + union + directory swap (write the merged
snapshot to a staging dir, then atomically swap), because plain parquet has no
MERGE.  At 100 TB the same ``foreachBatch`` body targets a MERGE-capable table
format (Iceberg/Delta ``MERGE INTO``) or partition-scoped dynamic overwrite so the
rewrite is proportional to touched partitions, not the full table — the seam to
swap is exactly one function.  Work per micro-batch is proportional to the batch's
updated keys on the probe side (the snapshot scan is one side of a single
broadcast-able anti-join), which is the property that makes continuous upsert
viable.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame

from alertas_spark.sources import parquet


def recover_snapshot(snapshot_dir: str) -> None:
    """Repair the snapshot after a crash mid-swap (idempotent, cheap).

    The swap in :func:`merge_batch_into_snapshot` is two renames:
    ``snapshot -> snapshot.old`` then ``staging -> snapshot``.  A crash can leave:

    * ``.old`` present, ``snapshot`` absent — died between the renames: the
      previous snapshot is intact under ``.old``; restore it.
    * ``.old`` AND ``snapshot`` present — died after the promote, before cleanup:
      ``snapshot`` is the newer complete version; drop ``.old``.
    * leftover ``.staging`` — always untrusted (possibly partial write); the next
      merge's ``mode("overwrite")`` replaces it, nothing to do here.

    In every state there is a complete snapshot on disk, so a replayed micro-batch
    (checkpoint not yet committed at crash time) re-merges against real data
    instead of silently taking the fresh-snapshot branch and dropping history."""
    old = snapshot_dir.rstrip("/") + ".old"
    if os.path.isdir(old):
        if os.path.isdir(snapshot_dir):
            shutil.rmtree(old)
        else:
            os.replace(old, snapshot_dir)


def merge_batch_into_snapshot(batch_df: DataFrame, key_cols: Sequence[str],
                              snapshot_dir: str) -> None:
    """Merge one micro-batch of per-key rows into the parquet snapshot at
    ``snapshot_dir`` (upsert: batch rows win on key collision).

    ``batch_df`` must hold at most one row per key (update-mode stateful output
    does — the state store emits one row per changed key per batch).

    Crash safety: the swap is two atomic renames (``snapshot -> .old``,
    ``staging -> snapshot``) with :func:`recover_snapshot` run first, so at no
    instant is there zero complete snapshots on disk — unlike a naive
    ``rmtree + rename``, whose crash window would make a replayed batch believe
    the snapshot never existed and silently drop every previously-merged key."""
    spark = batch_df.sparkSession
    keys = list(key_cols)
    recover_snapshot(snapshot_dir)
    if os.path.isdir(snapshot_dir):
        current = parquet.read(spark, snapshot_dir)
        merged = (
            current.join(batch_df.select(*keys).distinct(), keys, "left_anti")
            .unionByName(batch_df)
        )
    else:
        merged = batch_df
    staging = snapshot_dir.rstrip("/") + ".staging"
    old = snapshot_dir.rstrip("/") + ".old"
    merged.write.mode("overwrite").parquet(staging)
    if os.path.isdir(snapshot_dir):
        os.replace(snapshot_dir, old)
        os.replace(staging, snapshot_dir)
        shutil.rmtree(old)
    else:
        os.replace(staging, snapshot_dir)


def upsert_stream_to_snapshot(result: DataFrame, key_cols: Sequence[str],
                              snapshot_dir: str, checkpoint_dir: str) -> None:
    """Run an update-mode streaming plan to completion (availableNow), merging
    every micro-batch into the keyed snapshot via :func:`merge_batch_into_snapshot`.

    The checkpoint makes restarts resume after the last committed batch, so a
    re-run against unchanged input merges nothing new (exactly-once at the
    batch level — pinned by tests/test_streaming_sink.py)."""
    q = (
        result.writeStream
        .foreachBatch(lambda df, _id: merge_batch_into_snapshot(
            df, key_cols, snapshot_dir))
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
