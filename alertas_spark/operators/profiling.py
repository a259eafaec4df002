"""Data profiling — per-column statistics for pipeline QA.

A training-data pipeline's first pass over a new source: row counts, null rates,
distinct counts, range, quantiles, spread — one output row per profiled column.
Spark's ``percentile``/``stddev_samp`` and DuckDB's ``quantile_cont``/``stddev_samp``
use the same interpolation/Welford formulations, so the oracle comparison is exact.

At scale: one pass over the table, all statistics in a single partial+final hash
aggregate (no shuffle beyond the 1-row merge); exact percentiles buffer per-partition
sorted values — swap for ``approx_percentile`` at 100 TB (documented knob, not the
verification path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import finite, sql_finite
from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _duck_profile(col: str) -> str:
    f = f"(CASE WHEN isfinite({col}) THEN {col} END)"
    return f"""
    SELECT '{col}' AS column_name,
           COUNT({f}) AS n,
           COUNT(*) - COUNT({col}) AS n_null,
           COUNT({col}) - COUNT({f}) AS n_nonfinite,
           COUNT(DISTINCT {f}) AS n_distinct,
           ROUND(MIN({f}), 6) AS min_v,
           ROUND(MAX({f}), 6) AS max_v,
           ROUND(quantile_cont({f}, 0.5), 6) AS p50,
           ROUND(quantile_cont({f}, 0.95), 6) AS p95,
           ROUND(stddev_samp({f}), 6) AS sd
    FROM lineitem
    """


@declare(
    "profile_columns",
    oracle=" UNION ALL ".join(_duck_profile(c) for c in _COLS),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile of lineitem: count/nulls/distinct/min/max/p50/p95/sd,
    one row per column."""
    li = load_table(spark, sf_dir, "lineitem").select(*_COLS)
    # Stats are computed over FINITE values, with non-finite occurrences
    # surfaced as their own counter: NaN/Inf ordering inside min/max/quantile/
    # stddev is engine-divergent, and a profile that silently folds data
    # errors into its statistics is lying about both — a DQ tool should
    # COUNT them (adversarial-sweep-pinned).
    # Two single-row aggregates over the scan, then explode per-column structs:
    # the plain stats in one pass, the distinct counts in a second — mixing N
    # countDistincts with percentile buffers in one aggregate makes Catalyst EXPAND
    # the input N+1× underneath the sort buffers (measured 60% slower).
    aggs = []
    for c in _COLS:
        fc = finite(F.col(c))
        aggs += [
            F.count(fc).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            (F.count(c) - F.count(fc)).alias(f"{c}__n_nonfinite"),
            F.round(F.min(fc), 6).alias(f"{c}__min_v"),
            F.round(F.max(fc), 6).alias(f"{c}__max_v"),
            # One percentile buffer per column serves both quantiles — two
            # scalar percentile() calls each sort their own copy of the column.
            F.percentile(fc, F.lit([0.5, 0.95])).alias(f"{c}__pcts"),
            F.round(F.stddev_samp(fc), 6).alias(f"{c}__sd"),
        ]
    # the two single-row aggregates are INDEPENDENT full-table passes (split
    # deliberately — see above); materialize them concurrently so the
    # percentile pass's long sort tail and the distinct pass's Expand stage
    # back-fill each other (memo.overlap, guide §2.6)
    from alertas_spark.operators import memo

    stats_row, dist_row = memo.overlap(spark, [
        lambda: li.agg(*aggs).localCheckpoint(),
        lambda: li.agg(*[
            F.count_distinct(finite(F.col(c))).alias(f"{c}__n_distinct")
            for c in _COLS]).localCheckpoint(),
    ], max_workers=2)
    wide = stats_row.crossJoin(dist_row)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_nonfinite").alias("n_nonfinite"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min_v").alias("min_v"),
            F.col(f"{c}__max_v").alias("max_v"),
            F.round(F.col(f"{c}__pcts")[0], 6).alias("p50"),
            F.round(F.col(f"{c}__pcts")[1], 6).alias("p95"),
            F.col(f"{c}__sd").alias("sd"),
        ) for c in _COLS
    ])
    return wide.select(F.explode(structs).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Approximate-percentile profiling — the 100 TB path, as tested code
# ---------------------------------------------------------------------------

#: Greenwald-Khanna accuracy for the approx variants.  The sketch picks the
#: exact discrete element while the rank-error budget n/accuracy stays well
#: under one rank (n·eps ≈ 0.06 at the sf0.01 oracle gate — bit-identical to
#: DuckDB's ``quantile_disc`` there and in every pinned fixture); past that it
#: degrades gracefully to ±1/accuracy relative rank (observed: n·eps = 0.6 on
#: a 600k-row sf0.1 column can flip to a neighboring discrete value — the
#: oracle compare is pinned at sf0.01, where the margin holds).
#:
#: The accuracy IS the memory/CPU knob, and it must stay bounded for the
#: sketch to be a sketch: the r7 setting of 1e7 made the sketch effectively
#: buffer-everything — exact at any fixture, but the 10× scale probe measured
#: 19.8× time for 10× rows (33.9 s vs 14.8 s at 1e6, 7.3 s at 1e5 on the same
#: 6M-row replica).
#:
#: Memory model (the r9 100× probe's lesson): a Greenwald–Khanna summary
#: holds O(accuracy·log n) sampled entries, and a PARTIAL aggregation keeps
#: one live summary per column per concurrent task — total
#: ``accuracy · n_cols · concurrent_tasks · ~32 B``.  At accuracy 1e6 the
#: 100×-row probe (60M lineitem rows, 32 concurrent tasks × 4 columns on an
#: 8 GiB heap) OOMed the JVM; 2e5 bounds the same stage at ~1 GiB and
#: completes the 100× probe in 59.0 s — 31.7× for 100× rows, sublinear
#: (recorded in SCALING.md §"100× deep probes", r10; the 10× row there is
#: also re-measured at this shipped setting).  2e5 is the smallest setting that
#: keeps the sf0.01 oracle gate EXACT — n ≤ accuracy is NOT sufficient for
#: exactness (Spark's GK summary compresses at a fixed 10k threshold and its
#: merge bounds are looser than n·ε: accuracy 1e5 flipped p50 by one discrete
#: value on a 60k-row column; 2e5/3e5/5e5 measured exact) — and budgets
#: n·ε = 3 ranks of error at sf0.1, pinned by
#: test_approx_profile_rank_error_is_bounded_at_sf01.  On a real cluster the
#: same model applies per executor: accuracy × cols × executor-cores must fit
#: the executor heap's aggregation fraction.
APPROX_ACC = 200_000


def _duck_profile_approx(col: str) -> str:
    f = f"(CASE WHEN isfinite({col}) THEN {col} END)"
    return f"""
    SELECT '{col}' AS column_name,
           COUNT({f}) AS n,
           ROUND(MIN({f}), 6) AS min_v,
           ROUND(MAX({f}), 6) AS max_v,
           ROUND(quantile_disc({f}, 0.5), 6) AS p50,
           ROUND(quantile_disc({f}, 0.95), 6) AS p95,
           ROUND(stddev_samp({f}), 6) AS sd
    FROM lineitem
    """


@declare(
    "profile_columns_approx",
    oracle=" UNION ALL ".join(_duck_profile_approx(c) for c in _COLS),
)
def profile_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``profile_columns``'s documented 100 TB knob as a declared, tested query:
    sketch-based percentiles (``approx_percentile`` — bounded memory, one pass)
    instead of exact sort-buffer percentiles, and no distinct-count pass (the
    other unbounded-state statistic).  While n ≤ APPROX_ACC the sketch is exact,
    so the DuckDB ``quantile_disc`` oracle compares bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select(*_COLS)
    aggs = []
    for c in _COLS:
        fc = finite(F.col(c))
        aggs += [
            F.count(fc).alias(f"{c}__n"),
            F.round(F.min(fc), 6).alias(f"{c}__min_v"),
            F.round(F.max(fc), 6).alias(f"{c}__max_v"),
            # One sketch per column for both quantiles, not one per quantile.
            F.expr(f"approx_percentile(CASE WHEN NOT isnan({c}) AND "
                   f"abs({c}) != double('inf') THEN {c} END, "
                   f"array(0.5, 0.95), {APPROX_ACC})").alias(f"{c}__pcts"),
            F.round(F.stddev_samp(fc), 6).alias(f"{c}__sd"),
        ]
    wide = li.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__min_v").alias("min_v"),
            F.col(f"{c}__max_v").alias("max_v"),
            F.round(F.col(f"{c}__pcts")[0], 6).alias("p50"),
            F.round(F.col(f"{c}__pcts")[1], 6).alias("p95"),
            F.col(f"{c}__sd").alias("sd"),
        ) for c in _COLS
    ])
    return wide.select(F.explode(structs).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Winsorization: clip to corpus percentiles (two-pass scalar broadcast)
# ---------------------------------------------------------------------------

WINSOR_LO = 0.01
WINSOR_HI = 0.99


@declare(
    "winsorize_values",
    oracle=f"""
    WITH f AS (
        SELECT event_id, {sql_finite('value')} AS v FROM events
    ), bounds AS (
        SELECT quantile_cont(v, {WINSOR_LO}) AS lo,
               quantile_cont(v, {WINSOR_HI}) AS hi
        FROM f
    )
    SELECT event_id,
           CASE WHEN v IS NOT NULL
                THEN ROUND(LEAST(GREATEST(v, lo), hi), 6) END AS value_clipped,
           CASE WHEN v IS NOT NULL
                THEN CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END
           END AS clipped
    FROM f, bounds
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize the event value to the corpus [p1, p99] — the two-pass outlier
    pattern: one aggregation pass computes the exact percentile bounds (a 1-row
    frame), which then CROSS-JOIN-BROADCASTS onto the full table for the clip (the
    J7 scalar-broadcast idiom — no driver round-trip, no second shuffle).  At
    100 TB swap the exact percentile for approx_percentile; the plan shape is
    unchanged."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", finite(F.col("value")))  # non-finite input -> NULL out, both passes
    bounds = (
        ev.agg(F.expr(f"percentile(v, array({WINSOR_LO}, {WINSOR_HI}))")
               .alias("b"))
        .select(F.col("b")[0].alias("lo"), F.col("b")[1].alias("hi")))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            # when() guard: Spark's least/greatest SKIP nulls (NULL v would
            # silently clip to lo) instead of propagating like SQL comparison
            F.when(F.col("v").isNotNull(),
                   F.round(F.least(F.greatest(F.col("v"), F.col("lo")),
                                   F.col("hi")), 6))
            .alias("value_clipped"),
            F.when(F.col("v").isNull(), None)
            .when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), 1)
            .otherwise(0).alias("clipped"),
        )
    )


@declare(
    "winsorize_approx",
    oracle=f"""
    WITH f AS (
        SELECT event_id, {sql_finite('value')} AS v FROM events
    ), bounds AS (
        SELECT quantile_disc(v, {WINSOR_LO}) AS lo,
               quantile_disc(v, {WINSOR_HI}) AS hi
        FROM f
    )
    SELECT event_id,
           CASE WHEN v IS NOT NULL
                THEN ROUND(LEAST(GREATEST(v, lo), hi), 6) END AS value_clipped,
           CASE WHEN v IS NOT NULL
                THEN CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END
           END AS clipped
    FROM f, bounds
    """,
)
def winsorize_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``winsorize_values`` with sketch-based bounds — the same two-pass
    scalar-broadcast clip, but the bounds pass is ``approx_percentile`` with
    bounded memory instead of a full sort buffer.  Plan shape is identical
    (1-row aggregate → crossJoin-broadcast → scan-side clip); only the
    aggregation buffer changes, which is what makes this the 100 TB path.
    Exact (== ``quantile_disc``) while n ≤ APPROX_ACC."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", finite(F.col("value")))
    bounds = (
        ev.agg(F.expr(f"approx_percentile(v, array({WINSOR_LO}, {WINSOR_HI}),"
                      f" {APPROX_ACC})").alias("b"))
        .select(F.col("b")[0].alias("lo"), F.col("b")[1].alias("hi")))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            # when() guard: Spark's least/greatest SKIP nulls (NULL v would
            # silently clip to lo) instead of propagating like SQL comparison
            F.when(F.col("v").isNotNull(),
                   F.round(F.least(F.greatest(F.col("v"), F.col("lo")),
                                   F.col("hi")), 6))
            .alias("value_clipped"),
            F.when(F.col("v").isNull(), None)
            .when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), 1)
            .otherwise(0).alias("clipped"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth profile
# ---------------------------------------------------------------------------

#: sampling resolution: the corpus is split into D reshard-stable hash deciles
#: and the curve reports vocabulary size at every cumulative 1/D fraction.
VOCAB_DECILES = 10


@declare(
    "vocab_growth_curve",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id % {VOCAB_DECILES} AS decile,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), first_seen AS (
        SELECT t, MIN(decile) AS d0 FROM tok GROUP BY t
    ), newt AS (
        SELECT d0 AS decile, COUNT(*) AS n_new_tokens
        FROM first_seen GROUP BY d0
    ), occ AS (
        SELECT decile, COUNT(*) AS n_occurrences FROM tok GROUP BY decile
    )
    SELECT o.decile,
           CAST(COALESCE(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
           CAST(SUM(COALESCE(n.n_new_tokens, 0)) OVER w AS BIGINT) AS cum_vocab,
           CAST(o.n_occurrences AS BIGINT) AS n_occurrences,
           CAST(SUM(o.n_occurrences) OVER w AS BIGINT) AS cum_occurrences
    FROM occ o LEFT JOIN newt n ON n.decile = o.decile
    WINDOW w AS (ORDER BY o.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law profile: distinct-vocabulary size as a function of corpus
    fraction — the curve a tokenizer/dedup engineer reads before sizing a
    vocabulary or predicting novel-token rates at 10× the data.  The corpus
    fraction axis is ``pmod(doc_id, D)`` hash deciles (reshard-stable random
    split — cum_vocab at decile d IS the expected vocabulary of a (d+1)/D
    uniform sample), so the curve needs NO global sort: one token explode,
    a per-token MIN(decile) hash agg (first-seen decile), one D-row rollup,
    and a D-row running-sum window.  At 100 TB the heavy step is the
    token-keyed agg — the same shuffle the LM trainers already pay."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.filter(F.col("text").isNotNull())
           .select((F.col("doc_id") % VOCAB_DECILES).alias("decile"),
                   F.explode(words())
                   .alias("t")))
    first_seen = tok.groupBy("t").agg(F.min("decile").alias("d0"))
    newt = (first_seen.groupBy(F.col("d0").alias("decile"))
            .agg(F.count(F.lit(1)).alias("n_new_tokens")))
    occ = tok.groupBy("decile").agg(F.count(F.lit(1)).alias("n_occurrences"))
    from pyspark.sql import Window as W
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (occ.join(newt, "decile", "left")
            .select("decile",
                    F.coalesce("n_new_tokens", F.lit(0)).cast("bigint")
                    .alias("n_new_tokens"),
                    F.sum(F.coalesce("n_new_tokens", F.lit(0))).over(w)
                    .cast("bigint").alias("cum_vocab"),
                    F.col("n_occurrences").cast("bigint")
                    .alias("n_occurrences"),
                    F.sum("n_occurrences").over(w).cast("bigint")
                    .alias("cum_occurrences")))
