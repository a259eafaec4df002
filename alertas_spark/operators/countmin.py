"""Count-min sketch heavy hitters — the frequency sibling of the bloom tier.

The Pile/CCNet-class corpus audits need approximate per-token frequencies at
scales where the exact vocabulary is expensive to keep hot: the standard
structure is the count-min sketch (Cormode & Muthukrishnan 2005) — ``D``
independent hash rows × ``W`` buckets, cell = sum of counts hashing there,
estimate(t) = min over rows of t's cells.  The sketch never UNDERestimates
(every cell is the true count plus non-negative collision mass), and the
overestimate is bounded by the collision load — both contracts are pinned by
the audit query below, on the fixture and (with a deliberately tiny ``W``)
by pytest.

Representation (the bloom.py discipline): the sketch is relational — the
``(d, pos, cell)`` table is at most ``D·W`` rows **bounded by the sketch
geometry, not the corpus** — so both engines evaluate the identical integer
algebra and a deployed run can collapse it into an array per executor with
the same semantics.  Hashes are ``keys.h60`` (the one cross-engine hash),
salted ``cm{d}:`` per row.

Scale shape: one vocabulary-sized hash agg (token counts), a ``D``-way probe
explode of the vocabulary joined to the ≤ ``D·W``-row broadcast cell table,
and a two-phase top-K.  The 100 TB corpus is touched once, by the token
count agg; everything after is bounded by vocabulary and sketch geometry.

No reference counterpart; extension operator per the training-data-pipeline
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60, h60_sql
from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: sketch geometry — D hash rows × W buckets.  W is sized BELOW the fixture
#: vocabulary (31 distinct tokens at every driver SF — the synthetic corpus
#: draws from a fixed word pool) so collisions occur and the overestimate
#: branch stays oracle-exercised (the MINK_TAU lesson); a deployment raises
#: W with its vocabulary — error bound ≈ total_count / W per row, taken to
#: the min over D rows.
CM_D = 3
CM_W = 16
#: heavy-hitter report size.
CM_K = 20


def _probe_union_duck() -> str:
    return " UNION ALL ".join(
        f"SELECT t, c, {d} AS d, {h60_sql('t', f'cm{d}:', CM_W)} AS pos"
        " FROM cm_ct"
        for d in range(CM_D))


#: shared oracle front half ending in ``cm_est(t, est, exact)``.
_CM_EST_CTES = f"""cm_tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), cm_ct AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM cm_tok GROUP BY t
    ), cm_probes AS MATERIALIZED (
        {_probe_union_duck()}
    ), cm_cells AS (
        SELECT d, pos, CAST(SUM(c) AS BIGINT) AS cell
        FROM cm_probes GROUP BY d, pos
    ), cm_est AS MATERIALIZED (
        SELECT p.t, CAST(MIN(cl.cell) AS BIGINT) AS est,
               CAST(MIN(p.c) AS BIGINT) AS exact
        FROM cm_probes p
        JOIN cm_cells cl ON cl.d = p.d AND cl.pos = p.pos
        GROUP BY p.t
    )"""


def _cm_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, c)`` — exact per-token occurrence counts over the corpus."""
    return (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select(F.explode(words()).alias("t"))
            .groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c")))


def _cm_probe_rows(df: DataFrame) -> DataFrame:
    """D probe rows per input row carrying a ``t`` column — probe id + hash
    position as TOP-LEVEL projections (codegen, never inside an array
    lambda)."""
    return (df.withColumn("pr", F.explode(F.array(*[
                F.struct(F.lit(d).alias("d"),
                         h60("t", f"cm{d}:", CM_W).alias("pos"))
                for d in range(CM_D)])))
            .select(*df.columns, F.col("pr.d").alias("d"),
                    F.col("pr.pos").alias("pos")))


def _cm_est_from_cells(probes: DataFrame, cells: DataFrame) -> DataFrame:
    """``(t, est, exact)`` from probe rows and a ``(d, pos, cell)`` sketch
    relation — the query side of the sketch, shared by the batch tier and
    the streamed sketch (whose replayed cells equal the batch cells)."""
    return (probes
            .join(F.broadcast(cells), ["d", "pos"])  # ≤ D·W rows
            .groupBy("t")
            .agg(F.min("cell").cast("bigint").alias("est"),
                 F.min("c").cast("bigint").alias("exact")))


def _cm_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(t, est, exact)`` — the Spark twin of ``cm_est`` (probe rows built
    once; cells derived from the same relation — one corpus scan)."""
    probes = _cm_probe_rows(_cm_token_counts(spark, sf_dir))
    cells = (probes.groupBy("d", "pos")
             .agg(F.sum("c").cast("bigint").alias("cell")))
    return _cm_est_from_cells(probes, cells)


def cm_topk_report(spark, est: DataFrame) -> DataFrame:
    """The heavy-hitter report projection over a ``(t, est, exact)``
    relation — shared by the batch and streamed tiers so the served report
    is the batch report by construction."""
    from alertas_spark.operators.topk import ranked_topk

    ranked = ranked_topk(est.withColumn("grp", F.lit(0)),
                         "grp", "est", "t", CM_K, ascending=False)
    return ranked.select(F.col("t").alias("token"),
                         F.col("rnk").cast("int").alias("rnk"),
                         "est", "exact",
                         (F.col("est") - F.col("exact"))
                         .alias("overestimate"))


@declare(
    "heavyhitters_countmin",
    oracle=f"""
    WITH {_CM_EST_CTES},
    cm_ranked AS (
        SELECT t, est, exact,
               ROW_NUMBER() OVER (ORDER BY est DESC, t) AS rnk
        FROM cm_est
    )
    SELECT t AS token, CAST(rnk AS INTEGER) AS rnk, est, exact,
           est - exact AS overestimate
    FROM cm_ranked WHERE rnk <= {CM_K}
    """,
)
def heavyhitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-{CM_K} tokens by count-min ESTIMATE, with the exact count and
    the per-token overestimate alongside — the report a corpus audit reads
    to see both the heavy hitters and how much collision noise the sketch
    geometry injects at this vocabulary size.  Ranking is (est DESC, token)
    — pure integer ordering, no float anywhere.

    Plan: token-count hash agg → D-way probe explode → broadcast join to
    the ≤ D·W-row cell table → min-agg → two-phase top-K."""
    return cm_topk_report(spark, _cm_est(spark, sf_dir))


@declare(
    "countmin_overestimate_audit",
    oracle=f"""
    WITH {_CM_EST_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN est > exact THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overestimated,
           CAST(SUM(CASE WHEN est < exact THEN 1 ELSE 0 END) AS BIGINT)
               AS n_underestimated,
           CAST(MAX(est - exact) AS BIGINT) AS max_overestimate,
           CAST(SUM(est - exact) AS BIGINT) AS total_overestimate
    FROM cm_est
    """,
)
def countmin_overestimate_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The sketch-quality audit, one row: how many vocabulary tokens the
    sketch overestimates at the shipped D×W, the worst and total collision
    mass, and the pinned **no-underestimate identity** — ``n_underestimated``
    must be 0 on every corpus (a cell is its token's true count plus
    non-negative collision mass; tests drive W down to magnify the
    overestimate side).  Plan: the estimate relation, one hash-agg row."""
    est = _cm_est(spark, sf_dir)
    return est.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("est") > F.col("exact"), 1).otherwise(0))
         .cast("bigint").alias("n_overestimated"),
        F.sum(F.when(F.col("est") < F.col("exact"), 1).otherwise(0))
         .cast("bigint").alias("n_underestimated"),
        F.max(F.col("est") - F.col("exact")).cast("bigint")
         .alias("max_overestimate"),
        F.sum(F.col("est") - F.col("exact")).cast("bigint")
         .alias("total_overestimate"))
