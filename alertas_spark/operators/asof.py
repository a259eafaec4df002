"""As-of join — the canonical "operator Spark lacks" (SURVEY §7 extension c).

For each left row, attach the latest right row with ``t_right <= t_left`` per key
(time-series enrichment: trade→quote, click→last-view, reading→last-calibration).
Spark has no native ASOF JOIN; the naive rewrites are a per-row correlated subquery
(non-distributable) or a range join that explodes to O(left × right-per-key).

The scalable pattern used here is **union + ordered carry-forward**: tag both sides,
union, and per key take ``last(right_payload, ignorenulls)`` over a window ordered by
``(t, right-first)``.  That is ONE shuffle on the key, then a linear merge within each
partition — the same work a time-series database does, expressed in pure DataFrame
ops (no UDF, no explosion).  Ties: right rows sort before left at equal ``t``
(as-of is ``<=``), and equal-``t`` right rows resolve to the max event id.

Oracle: independently-formulated correlated-subquery SQL (DuckDB decorrelates it),
NOT the same window algorithm — so the two engines cross-check the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table


@declare(
    "asof_join_click_view",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
    views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view' AND ts IS NOT NULL)
    SELECT c.event_id AS click_id, c.user_id,
           CAST(c.ts AS VARCHAR) AS click_ts,
           (SELECT MAX(v.event_id) FROM views v
             WHERE v.user_id = c.user_id
               AND v.ts = (SELECT MAX(v2.ts) FROM views v2
                            WHERE v2.user_id = c.user_id AND v2.ts <= c.ts))
               AS view_id,
           CAST((SELECT MAX(v2.ts) FROM views v2
                  WHERE v2.user_id = c.user_id AND v2.ts <= c.ts) AS VARCHAR)
               AS view_ts
    FROM clicks c
    """,
)
def asof_join_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's latest view at-or-before it (NULL when
    none yet).  Union + per-key ordered carry-forward — one shuffle, no row explosion."""
    # timed-events domain: an as-of position is undefined for a NULL ts
    # (and NULL ordering diverges between engines) — pinned on both sides
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull())
          .select("event_id", "user_id", "ts", "event_type"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("v_event_id"),
        F.lit(None).cast("long").alias("c_event_id"),
        F.lit(1).alias("is_view"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("v_event_id"),
        F.col("event_id").alias("c_event_id"),
        F.lit(0).alias("is_view"),
    )
    # right side first at equal ts (as-of is <=); equal-ts views resolve to max id
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("is_view").desc(), F.col("v_event_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (
        views.unionByName(clicks)
        .withColumn("view_id", F.last("v_event_id", ignorenulls=True).over(w))
        .withColumn("view_ts",
                    F.last(F.when(F.col("is_view") == 1, F.col("ts")),
                           ignorenulls=True).over(w))
    )
    return (
        carried.filter(F.col("is_view") == 0)
        .select(
            F.col("c_event_id").alias("click_id"), "user_id",
            F.col("ts").cast("string").alias("click_ts"),
            "view_id",
            F.col("view_ts").cast("string").alias("view_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-hardened variant: segmented carry-forward over time bins
# ---------------------------------------------------------------------------

#: Width of the time segment (seconds).  The plain as-of window puts a whole user
#: in ONE task; binning caps a task's rows at one user-bin.  The knob trades
#: straggler protection (narrow bins) against summary-table size (wide bins).
ASOF_BIN_SECONDS = 6 * 3600


@declare(
    "asof_join_salted",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
    views AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view' AND ts IS NOT NULL)
    SELECT c.event_id AS click_id, c.user_id,
           CAST(c.ts AS VARCHAR) AS click_ts,
           (SELECT MAX(v.event_id) FROM views v
             WHERE v.user_id = c.user_id
               AND v.ts = (SELECT MAX(v2.ts) FROM views v2
                            WHERE v2.user_id = c.user_id AND v2.ts <= c.ts))
               AS view_id,
           CAST((SELECT MAX(v2.ts) FROM views v2
                  WHERE v2.user_id = c.user_id AND v2.ts <= c.ts) AS VARCHAR)
               AS view_ts
    FROM clicks c
    """,
)
def asof_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened as-of join, hash-equal to ``asof_join_click_view``.

    The plain variant's per-user window makes one mega-user one straggler task at
    100 TB.  Here the carry-forward is *segmented*: partition on
    ``(user_id, time_bin)`` so no task ever holds more than one user-bin, run the
    ordered carry-forward locally, then fix the segment boundaries with a prefix
    pass over the tiny per-(user, bin) summary table (last view carried out of
    each bin, carry-forwarded *exclusive* across bins) and ``coalesce(local,
    prefix)``.  Two shuffles of the big relation + one window over the summary —
    the segmented-scan decomposition of an ordered operator, same idea as
    ``functions/skew.salted_agg``'s partial/merge split but for a
    *non-commutative* (ordered) computation, where a hash salt would break the
    order the semantics depend on; the deterministic time bin IS the salt.
    """
    # timed-events domain: an as-of position is undefined for a NULL ts
    # (and NULL ordering diverges between engines) — pinned on both sides
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("ts").isNotNull())
          .select("event_id", "user_id", "ts", "event_type"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("v_event_id"),
        F.lit(None).cast("long").alias("c_event_id"),
        F.lit(1).alias("is_view"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("v_event_id"),
        F.col("event_id").alias("c_event_id"),
        F.lit(0).alias("is_view"),
    )
    tagged = (
        views.unionByName(clicks)
        .withColumn("bin", F.floor(F.unix_timestamp("ts") / ASOF_BIN_SECONDS))
        # the (view_id, view_ts) pair must carry atomically
        .withColumn("pack", F.when(F.col("is_view") == 1,
                                   F.struct(F.col("v_event_id").alias("vid"),
                                            F.col("ts").alias("vts"))))
    )
    w_local = (Window.partitionBy("user_id", "bin")
               .orderBy(F.col("ts").asc(), F.col("is_view").desc(),
                        F.col("v_event_id").asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = tagged.withColumn("local_pack",
                              F.last("pack", ignorenulls=True).over(w_local))
    # per-(user, bin) summary: the last view carried OUT of the bin …
    seg = (local.groupBy("user_id", "bin")
           .agg(F.max_by("local_pack", F.struct(
               F.col("ts"), F.col("is_view"), F.col("v_event_id"))).alias("out_pack")))
    # … carry-forwarded across bins, exclusive of the current bin
    w_bins = (Window.partitionBy("user_id").orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, -1))
    prefix = seg.withColumn("prefix_pack",
                            F.last("out_pack", ignorenulls=True).over(w_bins))
    joined = local.join(prefix.select("user_id", "bin", "prefix_pack"),
                        ["user_id", "bin"])
    final_pack = F.coalesce(F.col("local_pack"), F.col("prefix_pack"))
    return (
        joined.filter(F.col("is_view") == 0)
        .select(
            F.col("c_event_id").alias("click_id"), "user_id",
            F.col("ts").cast("string").alias("click_ts"),
            final_pack["vid"].alias("view_id"),
            final_pack["vts"].cast("string").alias("view_ts"),
        )
    )
