"""Interpolated Kneser–Ney trigram LM perplexity — the KenLM-filter tier.

The published CCNet quality filter scores documents with a KenLM n-gram model,
which is a trigram-or-higher **interpolated modified Kneser–Ney** LM; the
repo's ``perplexity_bigram_backoff`` stops at bigram stupid backoff.  This
module is the KN tier (Kneser & Ney 1995; Chen & Goodman 1999, interpolated
form with a single absolute discount D = 3/4):

    p3(w|u,v) = [max(c(uvw) − D, 0) + D·N1+(uv·)·p2(w|v)] / c(uv·)
    p2(w|v)   = [max(N1+(·vw) − D, 0) + D·M(v)·p1(w)]     / N1+(·v·)
    p1(w)     = [max(N1+(·w) − D, 0) + D·W1·(1/V)]        / N1+(··)

where the lower orders use CONTINUATION counts (how many distinct contexts a
word completes), not raw frequencies — the defining KN idea — and the unigram
level interpolates with the uniform 1/V so unseen words keep mass.  An unseen
trigram context falls back to p2, an unseen middle to p1 (the standard
backoff-at-missing-context rule for interpolated models).  Every level's
discount mass D·N1+(…) makes the distribution sum to exactly 1 over the
closed V-word vocabulary.

Cross-engine exactness
----------------------
D = 3/4 makes every KN probability a RATIONAL of the integer count tables:
multiply each level through by 4 and the numerator/denominator atoms are all
exact integers (``max(4c−3, 0)``, ``3·N1+``, ``4·c(uv·)``).  Both engines
evaluate the probability as the IDENTICALLY-PARENTHESIZED double expression
of those integer atoms — integer→double casts and +,·,/ are IEEE-determined,
so the doubles are bit-equal — and the single per-token libm call,
``ln(p)``, is quantized to a 1e9 fixed-point bigint immediately (the
``dsir_sample_gumbel`` precedent: ln of an identical double on both engines).
The per-document sum is then exact integer arithmetic under any partitioning.

Scale shape
-----------
The position stream is the bigram tier's narrow posexplode with one more LAG
on the same doc-keyed window (no extra shuffle).  All count tables are hash
aggs over n-gram TYPES — vocabulary-polynomial, not corpus-sized — joined
back by token keys (AQE-broadcastable on natural corpora, shuffle joins at
web scale); the three scalars ride a 1-row broadcast.  The trigram/bigram/
unigram count tables persist through the artifact store
(:func:`_kn_tables`), so scoring sessions load three parquet relations and
never re-run the training aggregation.

Reference parity: extension operator (no reference counterpart — the
reference is an alert engine, /root/reference/src/alertas/jobs.py);
first-class LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.textops import PPL_REF_MOD, _ppl_tok
from alertas_spark.registry import declare

#: bump when the count-table derivations change — artifact version key.
KN_CODE_VERSION = "kn-r16a"

#: absolute discount D = KN_D_NUM / KN_D_DEN = 3/4 — rational so the
#: multiplied-through probability atoms stay exact integers.
KN_D_NUM, KN_D_DEN = 3, 4


def _kn_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, t, prev, prev2): the position stream with both LAG
    contexts — ONE doc-keyed window pass, partitions bounded by doc length."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    return (_ppl_tok(spark, sf_dir)
            .withColumn("prev", F.lag("t", 1).over(w))
            .withColumn("prev2", F.lag("t", 2).over(w)))


def _kn_tables(spark: SparkSession, sf_dir: str
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The reference-split n-gram count tables — trigram (prev2, prev, t, c),
    bigram (prev, t, c), unigram (t, c) — through the persistent artifact
    store (the ``_lm_bigram_tables`` lifecycle).  Everything KN needs
    (context totals, continuation counts, the three scalars) derives from
    these by type-table-sized aggs at scoring time."""
    from alertas_spark.operators import memo
    from alertas_spark.operators.artifacts import persistent_artifact

    ref = F.col("doc_id") % PPL_REF_MOD != 0

    def build_tri() -> DataFrame:
        return (_kn_seq(spark, sf_dir)
                .filter(ref & F.col("prev2").isNotNull())
                .groupBy("prev2", "prev", "t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    def build_big() -> DataFrame:
        return (_kn_seq(spark, sf_dir)
                .filter(ref & F.col("prev").isNotNull())
                .groupBy("prev", "t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    def build_uni() -> DataFrame:
        return (_ppl_tok(spark, sf_dir).filter(ref).groupBy("t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    # the three count tables are independent full-corpus aggregations — build
    # them CONCURRENTLY (memo.overlap, guide §2.6): each lands in its own
    # session/store slot exactly as sequentially, and the tri/big/uni jobs'
    # stage tails back-fill each other instead of leaving the cluster idle
    tri, big, uni = memo.overlap(spark, [
        lambda: persistent_artifact(spark, sf_dir, "kn_trigram",
                                    KN_CODE_VERSION, "documents", build_tri),
        lambda: persistent_artifact(spark, sf_dir, "kn_bigram",
                                    KN_CODE_VERSION, "documents", build_big),
        lambda: persistent_artifact(spark, sf_dir, "kn_unigram",
                                    KN_CODE_VERSION, "documents", build_uni),
    ])
    return tri, big, uni


#: shared oracle CTE chain: tokenize → LAG contexts → reference n-gram type
#: tables → KN derived counts → per-token branch probabilities.  Ends in
#: ``kn_scored(doc_id, n_tokens, n_tri, n_big, n_uni, cross_entropy_nats)``.
_KN_SCORED_CTES = f"""kn_tok AS (
        SELECT doc_id, tk[CAST(p.i AS INT)] AS t, CAST(p.i AS BIGINT) AS pos
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents WHERE text IS NOT NULL)
        CROSS JOIN LATERAL unnest(range(1, len(tk) + 1)) AS p(i)
    ), kn_seq AS (
        SELECT doc_id, t,
               LAG(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
               LAG(t, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS prev2
        FROM kn_tok
    ), kn_tri AS (
        SELECT prev2, prev, t, CAST(COUNT(*) AS BIGINT) AS c FROM kn_seq
        WHERE prev2 IS NOT NULL AND doc_id % {PPL_REF_MOD} != 0
        GROUP BY prev2, prev, t
    ), kn_big AS (
        SELECT prev, t, CAST(COUNT(*) AS BIGINT) AS c FROM kn_seq
        WHERE prev IS NOT NULL AND doc_id % {PPL_REF_MOD} != 0
        GROUP BY prev, t
    ), kn_uni AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM kn_tok
        WHERE doc_id % {PPL_REF_MOD} != 0 GROUP BY t
    ), kn_ctx3 AS (  -- c(uv.) and N1+(uv.)
        SELECT prev2, prev, CAST(SUM(c) AS BIGINT) AS c2ctx,
               CAST(COUNT(*) AS BIGINT) AS n1p3
        FROM kn_tri GROUP BY prev2, prev
    ), kn_mid1 AS (  -- N1+(.vw): distinct predecessors of (v, w)
        SELECT prev, t, CAST(COUNT(*) AS BIGINT) AS n1c
        FROM kn_tri GROUP BY prev, t
    ), kn_mid2 AS (  -- N1+(.v.) and M(v)
        SELECT prev, CAST(SUM(n1c) AS BIGINT) AS n1ctx,
               CAST(COUNT(*) AS BIGINT) AS m_v
        FROM kn_mid1 GROUP BY prev
    ), kn_low AS (  -- N1+(.w): distinct predecessors of w (bigram types)
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n1w
        FROM kn_big GROUP BY t
    ), kn_scal AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM kn_big) AS n1dd,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM kn_low) AS w1,
               (SELECT CAST(COUNT(*) AS BIGINT) + 1 FROM kn_uni) AS vv
    ), kn_p AS (
        SELECT s.doc_id,
               CASE WHEN x.c2ctx IS NOT NULL THEN 3
                    WHEN m.n1ctx IS NOT NULL THEN 2
                    ELSE 1 END AS lvl,
               CASE WHEN x.c2ctx IS NOT NULL THEN
                 (CAST(GREATEST(4 * COALESCE(tr.c, 0) - 3, 0) AS DOUBLE)
                  + CAST(3 * x.n1p3 AS DOUBLE)
                    * ((CAST(GREATEST(4 * COALESCE(m1.n1c, 0) - 3, 0) AS DOUBLE)
                        + CAST(3 * m.m_v AS DOUBLE)
                          * (CAST(GREATEST(4 * COALESCE(lo.n1w, 0) - 3, 0)
                                  * g.vv + 3 * g.w1 AS DOUBLE)
                             / CAST(4 * g.vv * g.n1dd AS DOUBLE)))
                       / CAST(4 * m.n1ctx AS DOUBLE)))
                 / CAST(4 * x.c2ctx AS DOUBLE)
               WHEN m.n1ctx IS NOT NULL THEN
                 (CAST(GREATEST(4 * COALESCE(m1.n1c, 0) - 3, 0) AS DOUBLE)
                  + CAST(3 * m.m_v AS DOUBLE)
                    * (CAST(GREATEST(4 * COALESCE(lo.n1w, 0) - 3, 0)
                            * g.vv + 3 * g.w1 AS DOUBLE)
                       / CAST(4 * g.vv * g.n1dd AS DOUBLE)))
                 / CAST(4 * m.n1ctx AS DOUBLE)
               ELSE
                 CAST(GREATEST(4 * COALESCE(lo.n1w, 0) - 3, 0)
                      * g.vv + 3 * g.w1 AS DOUBLE)
                 / CAST(4 * g.vv * g.n1dd AS DOUBLE)
               END AS p
        FROM kn_seq s
        LEFT JOIN kn_ctx3 x ON x.prev2 = s.prev2 AND x.prev = s.prev
        LEFT JOIN kn_tri tr ON tr.prev2 = s.prev2 AND tr.prev = s.prev
                           AND tr.t = s.t
        LEFT JOIN kn_mid1 m1 ON m1.prev = s.prev AND m1.t = s.t
        LEFT JOIN kn_mid2 m  ON m.prev = s.prev
        LEFT JOIN kn_low  lo ON lo.t = s.t
        CROSS JOIN kn_scal g
    ), kn_scored AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
           ROUND(CAST(CAST(SUM(CAST(CAST(ROUND(-LN(p) * 1e9) AS BIGINT)
                                   AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) / 1e9, 6) AS cross_entropy_nats
    FROM kn_p GROUP BY doc_id
    )"""


def _kn_prob(qln_ready: bool = True):
    """The three-level KN probability as Spark columns — the EXACT mirror of
    the oracle's arithmetic (same parenthesization, same cast points; doubles
    are then bit-equal cross-engine).  Expects the joined columns
    c3/n1c/n1ctx/m_v/n1w/c2ctx/n1p3/n1dd/w1/vv in scope."""
    d = lambda c: c.cast("double")  # noqa: E731
    g = lambda c: F.greatest(4 * F.coalesce(c, F.lit(0)) - 3, F.lit(0))  # noqa: E731
    p1 = (d(g(F.col("n1w")) * F.col("vv") + 3 * F.col("w1"))
          / d(4 * F.col("vv") * F.col("n1dd")))
    p2 = ((d(g(F.col("n1c"))) + d(3 * F.col("m_v")) * p1)
          / d(4 * F.col("n1ctx")))
    p3 = ((d(g(F.col("c3"))) + d(3 * F.col("n1p3")) * p2)
          / d(4 * F.col("c2ctx")))
    return (F.when(F.col("c2ctx").isNotNull(), p3)
            .when(F.col("n1ctx").isNotNull(), p2)
            .otherwise(p1))


@declare(
    "perplexity_kn_trigram",
    oracle=f"""
    WITH {_KN_SCORED_CTES}
    SELECT doc_id, n_tokens, n_tri, n_big, n_uni, cross_entropy_nats
    FROM kn_scored
    """,
)
def perplexity_kn_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser–Ney trigram LM
    trained on the held-out reference split (doc_id % {PPL_REF_MOD} != 0) —
    the KenLM-filter tier above ``perplexity_bigram_backoff``.  ``n_tri`` /
    ``n_big`` / ``n_uni`` count positions scored at each level (trigram
    context seen / context unseen but middle seen / neither — first tokens
    and OOV contexts), so held-out documents demonstrably exercise all three
    branches.

    Probabilities are rationals of the count tables (D = 3/4) evaluated as
    identically-parenthesized doubles of exact-integer atoms; the single
    libm ``ln`` per token quantizes to a 1e9 bigint immediately and the
    per-doc sum is exact integer arithmetic (module docstring has the full
    exactness argument).  Scale: n-gram TYPE tables through the artifact
    store, five type-table joins + one 1-row scalar broadcast over the
    narrow position stream — zero corpus-sized shuffles beyond the LAG
    window the bigram tier already pays."""
    tri, big, uni = _kn_tables(spark, sf_dir)
    seq = _kn_seq(spark, sf_dir)
    ctx3 = tri.groupBy("prev2", "prev").agg(
        F.sum("c").cast("bigint").alias("c2ctx"),
        F.count(F.lit(1)).cast("bigint").alias("n1p3"))
    mid1 = tri.groupBy("prev", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1c"))
    mid2 = mid1.groupBy("prev").agg(
        F.sum("n1c").cast("bigint").alias("n1ctx"),
        F.count(F.lit(1)).cast("bigint").alias("m_v"))
    low = big.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("n1w"))
    scal = (big.agg(F.count(F.lit(1)).cast("bigint").alias("n1dd"))
            .crossJoin(low.agg(F.count(F.lit(1)).cast("bigint").alias("w1")))
            .crossJoin(uni.agg((F.count(F.lit(1)) + 1).cast("bigint")
                               .alias("vv"))))
    joined = (seq
              .join(ctx3, ["prev2", "prev"], "left")
              .join(tri.withColumnRenamed("c", "c3"),
                    ["prev2", "prev", "t"], "left")
              .join(mid1, ["prev", "t"], "left")
              .join(mid2, ["prev"], "left")
              .join(low, ["t"], "left")
              .crossJoin(F.broadcast(scal)))
    lvl = (F.when(F.col("c2ctx").isNotNull(), 3)
           .when(F.col("n1ctx").isNotNull(), 2).otherwise(1))
    qterm = F.round(-F.log(_kn_prob()) * 1e9).cast("bigint")
    return (joined
            .select("doc_id", lvl.alias("lvl"),
                    qterm.cast("decimal(38,0)").alias("qterm"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0))
                 .cast("bigint").alias("n_tri"),
                 F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
                 .cast("bigint").alias("n_big"),
                 F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_uni"),
                 F.round(F.sum("qterm").cast("double")
                         / F.count(F.lit(1)) / 1e9, 6)
                 .alias("cross_entropy_nats")))
