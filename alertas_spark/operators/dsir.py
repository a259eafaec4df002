"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published recipe for picking pretraining documents that *look like* a small
high-quality target domain out of a huge raw crawl: featurize every document
into **hashed n-gram counts**, fit two bag-of-words models — one on the target
domain, one on the raw pool — and keep the raw documents with the highest
importance ratio  log w(d) = log p_target(d) − log p_raw(d).

Why this is the right 100 TB shape
----------------------------------
Hashing tokens into a FIXED bucket space ``B`` (the paper uses 10k hashed
uni+bigrams; we use ``B = 4096`` word buckets) bounds both LM tables at ``B``
rows **no matter how large the corpus is** — they aggregate map-side into a
few-KB relation and broadcast back onto the per-document feature counts, so
scoring a 100 TB pool is: one (doc, bucket) hash-agg, two broadcast joins, one
per-doc agg.  Zero wide shuffles beyond the feature count, no driver collect,
no vocabulary-sized state.

Cross-engine exactness
----------------------
Scores are computed in the repo's quantized-ln integer algebra (the
``perplexity_unigram`` idiom, textops.py): every log is ``Q(x) =
CAST(ROUND(LN(x)·1e9) AS BIGINT)`` of an **integer** argument, the per-doc sum
is exact integer arithmetic under any partitioning, and only the final
length-normalized division is floated (then rounded to 6 decimals).  With
add-one smoothing the per-token term is

    Q(ct_t(b)+1) − Q(ct_r(b)+1)          (bucket-dependent)
  + Q(N_r+B)     − Q(N_t+B)              (constant per token)

so  logw(d) = Σ_b d_b·[Q(ct_t+1) − Q(ct_r+1)] + n_d·[Q(N_r+B) − Q(N_t+B)].

Selection ships in BOTH published forms: deterministic top-k on
(score DESC, doc_id) — the paper's temperature→0 limit — and the paper's
actual Gumbel-top-k resampling (``dsir_sample_gumbel``), whose hash-seeded
two-deep ``ln`` is made engine-exact by quantizing each libm evaluation to an
integer before the next consumes it.

Reference parity: extension operator (no reference counterpart — the reference
is an alert engine, /root/reference/src/alertas/jobs.py); first-class
LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.keys import (h60, h60_sql, ln_uniform,
                                          ln_uniform_sql)
from alertas_spark.operators.textops import hashed_word_counts
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: hashed-feature bucket count — fixes both LM tables at ≤B rows (broadcastable
#: at any corpus size).  4096 ≈ the paper's 10k at our vocabulary (~1k words).
DSIR_B = 4096

#: the "curated target domain" — at MPRJ scale this would be the vetted
#: in-domain slice; here the first four synthetic sources.
TARGET_SOURCES = ("src0", "src1", "src2", "src3")

#: documents to keep from the raw pool.
DSIR_K = 64

_TGT_IN = ", ".join(f"'{s}'" for s in TARGET_SOURCES)

#: feature bucket of a word ``t`` (``textops.hashed_word_counts``).
_BUCKET_DUCK = h60_sql("t", mod=DSIR_B)

#: shared oracle front half: tokenize → per-doc bucket counts → the two LM
#: tables (bucket counts + totals) → per-raw-doc quantized log-ratio score.
#: Ends in ``scored(doc_id, source, n_tokens, avg_logratio_nats)``.
_DSIR_SCORED_CTES = f"""tok AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), fb AS (
        SELECT doc_id, source, {_BUCKET_DUCK} AS b, COUNT(*) AS db
        FROM tok GROUP BY doc_id, source, {_BUCKET_DUCK}
    ), ct AS (
        SELECT b, SUM(db) AS c FROM fb
        WHERE COALESCE(source IN ({_TGT_IN}), FALSE) GROUP BY b
    ), cr AS (
        SELECT b, SUM(db) AS c FROM fb
        WHERE NOT COALESCE(source IN ({_TGT_IN}), FALSE) GROUP BY b
    ), tot AS (
        SELECT CAST(ROUND(LN((SELECT SUM(c) FROM ct) + {DSIR_B}) * 1e9) AS BIGINT)
                   AS qln_nt,
               CAST(ROUND(LN((SELECT SUM(c) FROM cr) + {DSIR_B}) * 1e9) AS BIGINT)
                   AS qln_nr
    ), scored AS (
    SELECT fb.doc_id, fb.source,
           CAST(SUM(fb.db) AS BIGINT) AS n_tokens,
           ROUND(CAST(CAST(SUM(CAST(fb.db AS HUGEINT)
                   * (CAST(ROUND(LN(COALESCE(ct.c, 0) + 1) * 1e9) AS BIGINT)
                      - CAST(ROUND(LN(cr.c + 1) * 1e9) AS BIGINT)
                      + tot.qln_nr - tot.qln_nt))
                  AS VARCHAR) AS DOUBLE) / SUM(fb.db) / 1e9, 6)
               AS avg_logratio_nats
    FROM fb LEFT JOIN ct USING (b) JOIN cr USING (b) CROSS JOIN tot
    WHERE NOT COALESCE(fb.source IN ({_TGT_IN}), FALSE)
    GROUP BY fb.doc_id, fb.source
    )"""


#: bump when the LM-table derivation changes — artifact version key.
DSIR_CODE_VERSION = "dsir-r15b"  # b: NULL source classified raw, not dropped


def _is_tgt():
    """NULL-safe target-membership: NULL source is raw (never NULL —
    a raw filter built as ~isin would silently drop null-source docs)."""
    return F.coalesce(F.col("source").isin(*TARGET_SOURCES), F.lit(False))


def _dsir_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two bucket-count LM tables as one relation (domain ∈ {t, r},
    b, c) — ≤ 2·DSIR_B rows total, persisted through the artifact store so
    scoring sessions read a few-KB parquet instead of re-aggregating the
    corpus (the ``_lm_unigram_counts`` lifecycle, textops.py)."""
    from alertas_spark.operators.artifacts import persistent_artifact

    def build() -> DataFrame:
        fb = hashed_word_counts(load_table(spark, sf_dir, "documents"),
                                "source", DSIR_B)
        # NULL source is RAW (the uncurated pool), matching the oracle's
        # NOT COALESCE(IN, FALSE) — a bare NOT IN would silently DROP
        # null-source docs from the raw LM while otherwise() kept them
        dom = F.when(_is_tgt(), "t").otherwise("r")
        # lazy: persistent_artifact owns materialization
        return (fb.groupBy(dom.alias("domain"), "b")
                .agg(F.sum("db").cast("bigint").alias("c")))

    return persistent_artifact(spark, sf_dir, "dsir_lm",
                               DSIR_CODE_VERSION, "documents", build)


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, avg_logratio_nats) for every raw-pool doc —
    the Spark twin of ``_DSIR_SCORED_CTES`` (one copy each side, so the oracle
    cannot drift from the plan)."""
    docs = load_table(spark, sf_dir, "documents")
    fb = hashed_word_counts(docs, "source", DSIR_B)
    lm = _dsir_lm(spark, sf_dir)
    # Both LM tables are ≤ DSIR_B rows by construction → explicit broadcast.
    ct = lm.filter(F.col("domain") == "t").select("b", F.col("c").alias("ct"))
    cr = lm.filter(F.col("domain") == "r").select("b", F.col("c").alias("cr"))
    qln = lambda c: F.round(F.log(c) * 1e9).cast("bigint")  # noqa: E731
    tot = (ct.agg(qln(F.sum("ct") + DSIR_B).alias("qln_nt"))
           .crossJoin(cr.agg(qln(F.sum("cr") + DSIR_B).alias("qln_nr"))))
    is_tgt = _is_tgt()
    term = (qln(F.coalesce(F.col("ct"), F.lit(0)) + 1) - qln(F.col("cr") + 1)
            + F.col("qln_nr") - F.col("qln_nt"))
    return (fb.filter(~is_tgt)
            .join(F.broadcast(ct), "b", "left")
            .join(F.broadcast(cr), "b")      # raw doc's buckets ⊆ raw counts
            .crossJoin(F.broadcast(tot))
            .withColumn("term", F.col("db").cast("decimal(38,0)") * term)
            .groupBy("doc_id", "source")
            .agg(F.sum("db").cast("bigint").alias("n_tokens"),
                 F.round(F.sum("term").cast("double") / F.sum("db") / 1e9, 6)
                 .alias("avg_logratio_nats")))


@declare(
    "dsir_logratio_scores",
    oracle=f"""
    WITH {_DSIR_SCORED_CTES}
    SELECT doc_id, source, n_tokens, avg_logratio_nats FROM scored
    """,
)
def dsir_logratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance score: how much more likely the document
    is under the target-domain hashed-unigram LM than under the raw-pool LM,
    length-normalized (nats/token).  Positive → looks like the target domain.
    This is the scoring half of the paper's pipeline; selection is the top-k
    query below.  Plan: one (doc, bucket) hash-agg, two ≤4096-row broadcast
    LM joins, a 1-row broadcast of the totals, one per-doc agg — bounded
    state at any corpus size."""
    return _dsir_scores(spark, sf_dir)


@declare(
    "dsir_select_topk",
    oracle=f"""
    WITH {_DSIR_SCORED_CTES},
    ranked AS (
        SELECT doc_id, source, n_tokens, avg_logratio_nats,
               ROW_NUMBER() OVER (ORDER BY avg_logratio_nats DESC, doc_id)
                   AS sel_rank
        FROM scored
    )
    SELECT doc_id, source, n_tokens, avg_logratio_nats, sel_rank
    FROM ranked WHERE sel_rank <= {DSIR_K}
    """,
)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: the K raw-pool documents most target-like by importance
    ratio (rank deterministic — quantized scores are engine-exact, ties break
    on doc_id).  The K cut rides the two-phase exact top-k (per-partition
    shortlist, then one window over ≤ K·n_partitions rows) — the score
    relation is one row per RAW-POOL document, i.e. corpus-sized, so a
    global no-partition rank window would be a single-partition sort of the
    whole pool (the r15 advice item this routes around; ``dsir_sample_gumbel``
    already took this path)."""
    from alertas_spark.operators.topk import ranked_topk

    scored = _dsir_scores(spark, sf_dir).withColumn("grp", F.lit(0))
    return (ranked_topk(scored, "grp", "avg_logratio_nats", "doc_id", DSIR_K,
                        ascending=False, rank_col="sel_rank")
            .select("doc_id", "source", "n_tokens", "avg_logratio_nats",
                    "sel_rank"))


# ---------------------------------------------------------------------------
# Gumbel-top-k resampling — the paper's actual selection rule
# ---------------------------------------------------------------------------

#: resampling temperature: key = logw/τ + Gumbel.  τ=1 is the paper default.
DSIR_TAU = 1.0

#: quantized log of the per-document uniform (``keys.h60``, salted per
#: operator): round(ln((h+1)/2^60)·1e9).
_G_DUCK_LNU = ln_uniform_sql(h60_sql("CAST(doc_id AS VARCHAR)", "dsg:"))


@declare(
    "dsir_sample_gumbel",
    oracle=f"""
    WITH {_DSIR_SCORED_CTES},
    keyed AS (
        SELECT doc_id, source, n_tokens, avg_logratio_nats,
               CAST(ROUND(avg_logratio_nats * 1e6) AS BIGINT)
               + CAST(ROUND(-LN(-CAST(
                     LEAST({_G_DUCK_LNU}, -1)
                     AS DOUBLE) / 1e9) * 1e6) AS BIGINT) AS sel_key
        FROM scored
    ), ranked AS (
        SELECT doc_id, source, n_tokens, avg_logratio_nats, sel_key,
               ROW_NUMBER() OVER (ORDER BY sel_key DESC, doc_id) AS sel_rank
        FROM keyed
    )
    SELECT doc_id, source, n_tokens, avg_logratio_nats, sel_key,
           CAST(sel_rank AS INTEGER) AS sel_rank
    FROM ranked WHERE sel_rank <= {DSIR_K}
    """,
)
def dsir_sample_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's published selection rule: Gumbel-top-k RESAMPLING — add
    per-document Gumbel noise g = −ln(−ln(u)) to the importance log-ratio
    and take the top K, which draws K documents *without replacement with
    probability ∝ w(d)^(1/τ)* instead of deterministically ranking them
    (``dsir_select_topk`` is the τ→0 limit).  The uniform is the md5-derived
    reshard-stable hash (sampling.py's idiom — same sample on every run,
    every partitioning, every engine), and both log evaluations quantize
    libm output immediately (1e-9 then 1e-6), so the inner result crosses
    engines as an exact integer and the selection key is a pure-integer sum
    — the ``sample_weighted_topk`` precedent extended one ln deeper.  Top-K
    rides the two-phase exact top-k (local shortlist per partition, one
    window over ≤ K·n_partitions rows — no global sort)."""
    from alertas_spark.operators.topk import ranked_topk

    # clamp the QUANTIZED integer, not the raw hash (r16 advice): any h in
    # the top ~5.8e8 of the 2^60 range has ln((h+1)/2^60) quantize to 0 at
    # 1e-9 resolution, so the outer −ln(−q1/1e9) would still hit −ln(0) —
    # DuckDB errors while Spark F.log(0) yields NULL (doc silently dropped).
    # Residual probability is ~5e-10 per doc, which FIRES at billions of
    # docs.  q1 = LEAST(round(...), −1) on both engines closes the seam
    # exactly: the clamped docs land on the maximal Gumbel value, which is
    # the correct limit of the transform.
    # inner: q1 = min(round(ln((h+1)/2^60)·1e9), −1) — exact negative integer
    q1 = F.least(ln_uniform(h60("doc_id", "dsg:")), F.lit(-1).cast("bigint"))
    # outer: g_q = round(−ln(−q1/1e9)·1e6) — ln of a double both engines
    # derived identically from the same integer
    g_q = F.round(-F.log(-q1.cast("double") / 1e9) * 1e6).cast("bigint")
    keyed = (_dsir_scores(spark, sf_dir)
             .withColumn("sel_key",
                         F.round(F.col("avg_logratio_nats") * 1e6)
                         .cast("bigint") + g_q)
             .withColumn("grp", F.lit(0)))
    return (ranked_topk(keyed, "grp", "sel_key", "doc_id", DSIR_K,
                        ascending=False, rank_col="sel_rank")
            .select("doc_id", "source", "n_tokens", "avg_logratio_nats",
                    "sel_key", F.col("sel_rank").cast("int").alias("sel_rank")))
