"""Min-K% Prob membership inference — LM-based benchmark-leakage audit
(Shi et al., "Detecting Pretraining Data from Large Language Models", 2023).

The n-gram (``decontaminate_overlap``/``decontaminate_minhash``/bloom) and
embedding (``decontaminate_embedding``) screens detect leakage by CONTENT
similarity; the published third axis detects it by MODEL SIGNAL: a document
the model has memorized scores suspiciously well even at its WORST tokens, so
the membership statistic is the mean negative log-probability of the K %
lowest-probability tokens (K = 20 %), and LOW Min-K% flags a member.  Here
the corpus-trained unigram LM (the ``perplexity_unigram`` count tables,
artifact-served) stands in for the model under audit; the threshold constant
is the calibration knob a deployment sets from a held-out non-member sample.

Exactness: per-token log-probabilities are the quantized-ln integers
``Q(ln c) − Q(ln N)``; the bottom-K% cut is pure integer arithmetic — token
TYPES sort by (q_lp, token), a cumulative-count window takes whole types
while the running count is under k = ⌈n/5⌉ = (n+4)//5 and a partial slice of
the boundary type (LEAST/GREATEST, no branches) — and the final mean divides
two exact integers as the identically-parenthesized double on both engines
(the sum crosses DuckDB's int→double seam via the VARCHAR route).

Scale shape: the unigram scorer's own shape — two hash aggs, one
vocabulary-sized join back, a 1-row broadcast — plus ONE per-document window
over token types (the ``ccnet_perplexity_buckets`` class).  The LM tables
grow with vocabulary, not corpus; nothing driver-side.

No reference counterpart; extension operator per the training-data-pipeline
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: fraction of tokens scored: bottom 20 % by probability (the paper's K).
#: k = ⌈n/5⌉, stated division-free as (n + 4) // 5.
MINK_DIV = 5
#: membership threshold in nats — documents whose Min-K% statistic is at or
#: below τ are flagged.  Calibration knob; 3.44 splits the synthetic fixture
#: near its median so both branches stay oracle-exercised.
MINK_TAU = 3.44


@declare(
    "decontaminate_minkprob",
    oracle=f"""
    WITH mkp_tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
            AS t
        FROM documents WHERE text IS NOT NULL
    ), mkp_d AS (
        SELECT doc_id, t, COUNT(*) AS dc FROM mkp_tok GROUP BY doc_id, t
    ), mkp_ct AS (
        SELECT t, SUM(dc) AS c FROM mkp_d GROUP BY t
    ), mkp_g AS (
        SELECT CAST(ROUND(LN(SUM(c)) * 1e9) AS BIGINT) AS qln_n FROM mkp_ct
    ), mkp_mk AS MATERIALIZED (
        SELECT mkp_d.doc_id, mkp_d.t, mkp_d.dc,
               (CAST(ROUND(LN(mkp_ct.c) * 1e9) AS BIGINT) - mkp_g.qln_n)
                   AS q_lp
        FROM mkp_d JOIN mkp_ct USING (t) CROSS JOIN mkp_g
    ), mkp_tot AS (
        SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_tokens
        FROM mkp_mk GROUP BY doc_id
    ), mkp_ord AS (
        SELECT m.doc_id, m.dc, m.q_lp,
               COALESCE(SUM(m.dc) OVER (
                   PARTITION BY m.doc_id ORDER BY m.q_lp, m.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumb
        FROM mkp_mk m
    ), mkp_sel AS (
        SELECT o.doc_id, t2.n_tokens,
               (t2.n_tokens + {MINK_DIV - 1}) // {MINK_DIV} AS k,
               SUM(LEAST(o.dc,
                         GREATEST((t2.n_tokens + {MINK_DIV - 1})
                                  // {MINK_DIV} - o.cumb, 0)) * o.q_lp)
                   AS sum_q
        FROM mkp_ord o JOIN mkp_tot t2 USING (doc_id)
        GROUP BY o.doc_id, t2.n_tokens
    )
    SELECT doc_id, n_tokens, CAST(k AS BIGINT) AS k_tokens,
           ROUND(-CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) / k / 1e9, 6)
               AS mink_nats,
           CAST(CASE WHEN -CAST(CAST(sum_q AS VARCHAR) AS DOUBLE) / k / 1e9
                          <= {MINK_TAU}
                     THEN 1 ELSE 0 END AS INTEGER) AS member_flag
    FROM mkp_sel
    """,
)
def decontaminate_minkprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: token count, the bottom-20 % cut size k, the Min-K%
    statistic in nats (mean negative log-prob of the k least-probable token
    occurrences), and the membership flag at τ = {MINK_TAU}.  Occurrences of
    the same token type share a probability, so the bottom-k% cut takes
    whole types ascending by log-prob plus an exact partial slice of the
    boundary type — integer arithmetic end to end."""
    from alertas_spark.operators.textops import _lm_unigram_counts

    docs = load_table(spark, sf_dir, "documents")
    d = (docs.filter(F.col("text").isNotNull())
         .select("doc_id",
                 F.explode(words())
                 .alias("t"))
         .groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("dc")))
    ct = _lm_unigram_counts(spark, sf_dir)
    g = ct.agg(F.round(F.log(F.sum("c")) * 1e9).cast("bigint")
               .alias("qln_n"))
    mk = (d.join(ct, "t").crossJoin(F.broadcast(g))
          .withColumn("q_lp", F.round(F.log("c") * 1e9).cast("bigint")
                      - F.col("qln_n")))
    tot = mk.groupBy("doc_id").agg(F.sum("dc").cast("bigint")
                                   .alias("n_tokens"))
    w = (Window.partitionBy("doc_id").orderBy("q_lp", "t")
         .rowsBetween(Window.unboundedPreceding, -1))
    k = F.expr(f"(n_tokens + {MINK_DIV - 1}) div {MINK_DIV}")
    take = F.least(
        F.col("dc"),
        F.greatest(k - F.coalesce(F.sum("dc").over(w), F.lit(0)), F.lit(0)))
    sel = (mk.join(tot, "doc_id")
           .withColumn("part", (take * F.col("q_lp")).cast("decimal(38,0)"))
           .groupBy("doc_id", "n_tokens")
           .agg(F.sum("part").alias("sum_q"))
           .withColumn("k", k.cast("bigint")))
    mink = F.round(-F.col("sum_q").cast("double") / F.col("k") / 1e9, 6)
    raw = -F.col("sum_q").cast("double") / F.col("k") / 1e9
    return sel.select(
        "doc_id", "n_tokens", F.col("k").alias("k_tokens"),
        mink.alias("mink_nats"),
        F.when(raw <= MINK_TAU, 1).otherwise(0).cast("int")
        .alias("member_flag"))
