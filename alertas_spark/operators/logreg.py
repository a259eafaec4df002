"""Logistic-regression quality classifier via deterministic IRLS.

The GPT-3 / CCNet quality gate is a LINEAR classifier (logistic regression /
fastText) trained "curated vs crawl" and swept over every document — the
published sibling of the NB classifier tier (classifier.py).  This module
trains a binary LR by **fixed-iteration IRLS (Newton–Raphson)** entirely
engine-side, with every accumulator exact-integer so the trajectory is
partition-order independent and bit-equal in the DuckDB oracle — the
kmeans/pagerank unrolled-trajectory pattern applied to a second-order
optimizer.

Model + features.  Label y = "curated": source ∈ DSIR's TARGET_SOURCES
(NULL-safe — a NULL source is crawl).  Features are hashed unigram counts in
``LR_B = 2`` buckets plus an intercept, so the IRLS normal matrix
``X^T W X`` is 3×3 and its solve is a CLOSED-FORM adjugate both engines can
evaluate identically — the fixed-B idea that makes second-order training
shuffle-free at any corpus size (B picks model capacity, not data size; a
production gate would raise B and swap the adjugate for a bounded B×B
driver-side solve of the SAME collected integer sums).

Per IRLS iteration (β ∈ Z³ at 1e-9 fixed point, starting at 0):
  1. z_i·1e9 = β0 + β1·x1 + β2·x2  — EXACT integer per doc;
  2. μ_i = ROUND(1e6 / (1 + EXP(−z_i)))  — the iteration's ONE libm call,
     quantized to 1e-6 fixed point immediately (the dsir/gumbel idiom),
     clamped to [1, 999999] so W = μ(1e6−μ) stays positive definite;
  3. A = Σ x x^T·μ(1e6−μ)  and  g = Σ x·(1e6·y − μ)  — exact integer sums
     (per-term ≤ 2.5e11·L², safe in BIGINT for documents under ~6000
     tokens; DuckDB overflow-checks, never silently wraps);
  4. δ = 1e6·A⁻¹g via the 3×3 adjugate in doubles — every atom converts
     integer→double correctly rounded (Python ``float(int)`` ≙ DuckDB
     ``CAST(CAST(x AS VARCHAR) AS DOUBLE)``, the repo's VARCHAR rule) and
     the expression is identically parenthesized, so IEEE determinism
     carries both engines to the same double;
  5. β += ROUND(δ·1e9)  — re-quantized before the next iteration consumes
     it, half-away-from-zero on both engines.

After ``LR_ITERS = 4`` iterations β rides the artifact store (``lr_model``);
scoring is one scan-side z → μ projection over the held-out fold — the same
1-in-{LR_FOLDS} ``pmod(doc_id)`` fold as the NB tier, so the two classifiers
score the SAME documents and the audit query can cross-tabulate them.

Scale shape: training collects NINE bounded scalars per iteration (the
trainer-scalar pattern, bpe.py) — the driver never sees rows; scoring is a
broadcast of 3 numbers.  A degenerate corpus whose feature matrix is rank
deficient makes det(A) = 0 and the update NaN — DuckDB fails loudly on the
BIGINT cast rather than silently diverging (documented, untestable on any
fixture with varied document lengths).

Reference parity: extension operator (no reference counterpart); first-class
LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60, h60_sql
from alertas_spark.operators.classifier import _NB_PRED_CTES, NB_FOLDS
from alertas_spark.operators.dsir import TARGET_SOURCES
from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: hashed feature buckets (+1 intercept → 3×3 normal matrix).
LR_B = 2

#: IRLS iterations — fixed, unrolled in the oracle.
LR_ITERS = 4

#: held-out fold: SAME as the NB tier so both classifiers score the same docs.
LR_FOLDS = NB_FOLDS

#: bump when the trainer derivation changes — artifact version key.
LR_CODE_VERSION = "lr-r16a"

_TGT_IN = ", ".join(f"'{s}'" for s in TARGET_SOURCES)

#: feature bucket of a word ``t``: ``keys.h60`` salted per operator.
_B_DUCK = h60_sql("t", "lrb:", LR_B)

#: feature relation CTEs → ``lr_f(doc_id, y, x1, x2)`` (all docs) and
#: ``lr_train`` (training folds).
_LR_F_CTES = f"""lr_tok AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), lr_f AS (
        SELECT doc_id,
               CASE WHEN COALESCE(source IN ({_TGT_IN}), FALSE)
                    THEN 1 ELSE 0 END AS y,
               CAST(SUM(CASE WHEN {_B_DUCK} = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x1,
               CAST(SUM(CASE WHEN {_B_DUCK} = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS x2
        FROM lr_tok GROUP BY doc_id, source
    ), lr_train AS (
        SELECT * FROM lr_f WHERE doc_id % {LR_FOLDS} != 0
    )"""


def _duck_iter_ctes() -> str:
    """The LR_ITERS unrolled IRLS iterations as materialized CTEs, ending in
    ``lr_b{LR_ITERS}(b0, b1, b2)`` — the oracle twin of the Spark trainer
    loop, same fixed-point algebra step for step."""
    D = lambda x: f"CAST(CAST(a.{x} AS VARCHAR) AS DOUBLE)"  # noqa: E731
    # symmetric 3x3 adjugate entries (shared subterms spelled out so the
    # Python trainer can mirror them token for token)
    c00 = f"({D('a11')} * {D('a22')} - {D('a12')} * {D('a12')})"
    c01 = f"({D('a02')} * {D('a12')} - {D('a01')} * {D('a22')})"
    c02 = f"({D('a01')} * {D('a12')} - {D('a02')} * {D('a11')})"
    c11 = f"({D('a00')} * {D('a22')} - {D('a02')} * {D('a02')})"
    c12 = f"({D('a02')} * {D('a01')} - {D('a00')} * {D('a12')})"
    c22 = f"({D('a00')} * {D('a11')} - {D('a01')} * {D('a01')})"
    det = f"({D('a00')} * {c00} + {D('a01')} * {c01} + {D('a02')} * {c02})"
    dlt = {
        "b0": f"({c00} * {D('g0')} + {c01} * {D('g1')} + {c02} * {D('g2')})",
        "b1": f"({c01} * {D('g0')} + {c11} * {D('g1')} + {c12} * {D('g2')})",
        "b2": f"({c02} * {D('g0')} + {c12} * {D('g1')} + {c22} * {D('g2')})",
    }
    parts = ["lr_b0 AS (SELECT CAST(0 AS BIGINT) AS b0, "
             "CAST(0 AS BIGINT) AS b1, CAST(0 AS BIGINT) AS b2)"]
    for k in range(1, LR_ITERS + 1):
        # widen BEFORE the products (r16 advice): mu·(1e6−mu) ≤ 2.5e11
        # times x1² in BIGINT overflows past ~6000-token documents —
        # DuckDB would error (checked arithmetic) while Spark's non-ANSI
        # BIGINT silently wraps; HUGEINT products are exact at any length
        w = "(CAST(mu AS HUGEINT) * (1000000 - mu))"
        r = "(CAST(1000000 AS HUGEINT) * y - mu)"
        parts.append(f"""lr_mu{k} AS MATERIALIZED (
        SELECT f.y, f.x1, f.x2,
               LEAST(GREATEST(CAST(ROUND(1e6 / (1 + EXP(
                   -(CAST(b.b0 + b.b1 * f.x1 + b.b2 * f.x2 AS DOUBLE)
                     / 1e9)))) AS BIGINT), 1), 999999) AS mu
        FROM lr_train f CROSS JOIN lr_b{k - 1} b
    )""")
        parts.append(f"""lr_a{k} AS MATERIALIZED (
        SELECT SUM({w}) AS a00,
               SUM({w} * x1) AS a01,
               SUM({w} * x2) AS a02,
               SUM({w} * x1 * x1) AS a11,
               SUM({w} * x1 * x2) AS a12,
               SUM({w} * x2 * x2) AS a22,
               SUM({r}) AS g0,
               SUM({r} * x1) AS g1,
               SUM({r} * x2) AS g2
        FROM lr_mu{k}
    )""")
        parts.append(f"""lr_b{k} AS MATERIALIZED (
        SELECT b.b0 + CAST(ROUND(1e6 * {dlt['b0']} / {det} * 1e9) AS BIGINT)
                   AS b0,
               b.b1 + CAST(ROUND(1e6 * {dlt['b1']} / {det} * 1e9) AS BIGINT)
                   AS b1,
               b.b2 + CAST(ROUND(1e6 * {dlt['b2']} / {det} * 1e9) AS BIGINT)
                   AS b2
        FROM lr_a{k} a CROSS JOIN lr_b{k - 1} b
    )""")
    return ", ".join(parts)


#: full oracle front half ending in ``lr_scored(doc_id, y, mu, prob, pred)``
#: over the held-out fold.
_LR_SCORED_CTES = f"""{_LR_F_CTES}, {_duck_iter_ctes()}, lr_scored AS (
        SELECT f.doc_id, f.y,
               CAST(ROUND(1e6 / (1 + EXP(
                   -(CAST(b.b0 + b.b1 * f.x1 + b.b2 * f.x2 AS DOUBLE)
                     / 1e9)))) AS BIGINT) AS mu
        FROM lr_f f CROSS JOIN lr_b{LR_ITERS} b
        WHERE f.doc_id % {LR_FOLDS} = 0
    )"""


def _rnd_half_away(x: float) -> int:
    """ROUND-to-integer, half away from zero — Spark/DuckDB ROUND semantics
    (Python's round() is half-even and would diverge on exact halves)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x1, x2) — the Spark twin of ``lr_f``."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.filter(F.col("text").isNotNull())
           .select("doc_id", "source",
                   F.explode(words()).alias("t"))
           .withColumn("b", h60("t", "lrb:", LR_B)))
    y = (F.when(F.coalesce(F.col("source").isin(*TARGET_SOURCES),
                           F.lit(False)), 1).otherwise(0))
    return (tok.groupBy("doc_id", "source")
            .agg(F.sum(F.when(F.col("b") == 0, 1).otherwise(0))
                 .cast("bigint").alias("x1"),
                 F.sum(F.when(F.col("b") == 1, 1).otherwise(0))
                 .cast("bigint").alias("x2"))
            .select("doc_id", y.alias("y"), "x1", "x2"))


def _lr_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained β (1 row: b0, b1, b2 at 1e-9 fixed point) through the
    artifact store.  The trainer loop collects nine bounded integer sums per
    iteration and mirrors the oracle's adjugate algebra in Python doubles —
    ``float(int)`` and IEEE +,·,/ match DuckDB's VARCHAR-cast route exactly,
    so both trajectories land on the same quantized β."""
    from alertas_spark.operators import memo
    from alertas_spark.operators.artifacts import persistent_artifact

    def build() -> DataFrame:
        # registered cache: the four iterations re-scan the feature relation
        train = memo.cached(_lr_features(spark, sf_dir)
                            .filter(F.col("doc_id") % LR_FOLDS != 0))
        bq = [0, 0, 0]
        for _ in range(LR_ITERS):
            z = (F.lit(bq[0]) + F.lit(bq[1]) * F.col("x1")
                 + F.lit(bq[2]) * F.col("x2"))
            mu = F.least(F.greatest(
                F.round(1e6 / (1 + F.exp(-(z.cast("double") / 1e9))))
                .cast("bigint"), F.lit(1)), F.lit(999999))
            # widen to decimal(38,0) BEFORE the products (r16 advice):
            # w ≤ 2.5e11 times x1² wraps Spark's non-ANSI BIGINT past
            # ~6000-token documents while the oracle's HUGEINT is exact —
            # decimal products make Spark exact at any document length
            w = F.col("mu").cast("decimal(38,0)") * (1000000 - F.col("mu"))
            r = (1000000 * F.col("y") - F.col("mu")).cast("decimal(38,0)")
            row = (train.withColumn("mu", mu)
                   .agg(F.sum(w).alias("a00"),
                        F.sum(w * F.col("x1")).alias("a01"),
                        F.sum(w * F.col("x2")).alias("a02"),
                        F.sum(w * F.col("x1") * F.col("x1")).alias("a11"),
                        F.sum(w * F.col("x1") * F.col("x2")).alias("a12"),
                        F.sum(w * F.col("x2") * F.col("x2")).alias("a22"),
                        F.sum(r).alias("g0"),
                        F.sum(r * F.col("x1")).alias("g1"),
                        F.sum(r * F.col("x2")).alias("g2"))
                   .collect()[0])  # trainer-scalar collect: 9 bounded sums
            a00, a01, a02 = float(row["a00"]), float(row["a01"]), float(row["a02"])
            a11, a12, a22 = float(row["a11"]), float(row["a12"]), float(row["a22"])
            g0, g1, g2 = float(row["g0"]), float(row["g1"]), float(row["g2"])
            # adjugate — token-for-token the oracle's _duck_iter_ctes algebra
            c00 = (a11 * a22 - a12 * a12)
            c01 = (a02 * a12 - a01 * a22)
            c02 = (a01 * a12 - a02 * a11)
            c11 = (a00 * a22 - a02 * a02)
            c12 = (a02 * a01 - a00 * a12)
            c22 = (a00 * a11 - a01 * a01)
            det = (a00 * c00 + a01 * c01 + a02 * c02)
            bq[0] += _rnd_half_away(1e6 * (c00 * g0 + c01 * g1 + c02 * g2)
                                    / det * 1e9)
            bq[1] += _rnd_half_away(1e6 * (c01 * g0 + c11 * g1 + c12 * g2)
                                    / det * 1e9)
            bq[2] += _rnd_half_away(1e6 * (c02 * g0 + c12 * g1 + c22 * g2)
                                    / det * 1e9)
        return spark.createDataFrame([tuple(bq)],
                                     schema="b0 long, b1 long, b2 long")

    return persistent_artifact(spark, sf_dir, "lr_model",
                               LR_CODE_VERSION, "documents", build)


def _lr_mu(betas_joined: DataFrame) -> Column:
    """μ at 1e-6 fixed point from joined (x1, x2, b0, b1, b2) columns."""
    z = (F.col("b0") + F.col("b1") * F.col("x1")
         + F.col("b2") * F.col("x2"))
    return (F.round(1e6 / (1 + F.exp(-(z.cast("double") / 1e9))))
            .cast("bigint"))


def _lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, mu) over the held-out fold — the ``lr_scored`` twin."""
    f = (_lr_features(spark, sf_dir)
         .filter(F.col("doc_id") % LR_FOLDS == 0))
    joined = f.crossJoin(F.broadcast(_lr_model(spark, sf_dir)))
    return joined.select("doc_id", "y", _lr_mu(joined).alias("mu"))


@declare(
    "lr_quality_score",
    oracle=f"""
    WITH {_LR_SCORED_CTES}
    SELECT doc_id, y, mu AS mu_q,
           CAST(mu AS DOUBLE) / 1e6 AS prob,
           CAST(CASE WHEN 2 * mu >= 1000000 THEN 1 ELSE 0 END AS INTEGER)
               AS pred,
           CAST(CASE WHEN (2 * mu >= 1000000) = (y = 1) THEN 1 ELSE 0 END
                AS INTEGER) AS hit
    FROM lr_scored
    """,
)
def lr_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every held-out document with the IRLS-trained LR quality model:
    curated-probability (exact 1e-6 fixed point), the 0.5-threshold
    prediction, and a hit flag against the true curated label.  The GPT-3
    quality-gate shape: model is 3 numbers broadcast onto a scan-side
    projection — zero shuffles beyond the feature agg at any corpus size."""
    s = _lr_scored(spark, sf_dir)
    pred = (2 * F.col("mu") >= 1000000).cast("int")
    return s.select(
        "doc_id", "y", F.col("mu").alias("mu_q"),
        (F.col("mu").cast("double") / 1e6).alias("prob"),
        pred.alias("pred"),
        (pred == F.col("y")).cast("int").alias("hit"))


@declare(
    "lr_gate_select",
    oracle=f"""
    WITH {_LR_SCORED_CTES}, lr_prior AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tr,
               CAST(SUM(y) AS BIGINT) AS y_tr
        FROM lr_train
    )
    SELECT s.doc_id, s.y, CAST(s.mu AS DOUBLE) / 1e6 AS prob
    FROM lr_scored s CROSS JOIN lr_prior p
    WHERE s.mu * p.n_tr >= 1000000 * p.y_tr
    """,
)
def lr_gate_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate itself: held-out documents scoring AT OR ABOVE the training
    curated base rate — the published relative form (GPT-3 gates on the
    classifier score relative to the corpus, not an absolute 0.5: with a
    rare positive class an absolute threshold keeps nothing).  The
    comparison ``μ·N_tr ≥ 1e6·ΣY_tr`` is pure integer — no ratio float
    seam.  Same scored relation, one 1-row broadcast for the prior."""
    prior = (_lr_features(spark, sf_dir)
             .filter(F.col("doc_id") % LR_FOLDS != 0)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_tr"),
                  F.sum("y").cast("bigint").alias("y_tr")))
    return (_lr_scored(spark, sf_dir)
            .crossJoin(F.broadcast(prior))
            .filter(F.col("mu") * F.col("n_tr")
                    >= 1000000 * F.col("y_tr"))
            .select("doc_id", "y",
                    (F.col("mu").cast("double") / 1e6).alias("prob")))


@declare(
    "lr_calibration_curve",
    oracle=f"""
    WITH {_LR_SCORED_CTES}
    SELECT LEAST(CAST(mu * 10 // 1000000 AS INTEGER), 9) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(mu) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_pred,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate
    FROM lr_scored
    GROUP BY LEAST(CAST(mu * 10 // 1000000 AS INTEGER), 9)
    """,
)
def lr_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the LR gate: held-out documents bucketed by
    predicted-probability decile, with each bucket's mean prediction and
    observed positive rate — the calibration artifact read before trusting
    the gate's threshold (a well-calibrated classifier has
    avg_pred ≈ obs_rate per bucket).  ≤10 rows from one agg over the
    fold-pruned scored relation; both ratio columns are integer/integer
    through one identically-evaluated double."""
    s = _lr_scored(spark, sf_dir)
    bucket = F.least(F.floor(F.col("mu") * 10 / 1000000).cast("int"),
                     F.lit(9))
    return (s.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.sum("mu").cast("double")
                         / F.count(F.lit(1)) / 1e6, 6).alias("avg_pred"),
                 F.round(F.sum("y").cast("double")
                         / F.count(F.lit(1)), 6).alias("obs_rate")))


@declare(
    "lr_nb_confusion_audit",
    oracle=f"""
    WITH {_LR_SCORED_CTES}, {_NB_PRED_CTES}
    SELECT s.y, CAST(CASE WHEN 2 * s.mu >= 1000000 THEN 1 ELSE 0 END
                     AS INTEGER) AS lr_pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN p.pred_lang = p.lang THEN 1 ELSE 0 END)
                AS BIGINT) AS nb_hits
    FROM lr_scored s JOIN pred p ON p.doc_id = s.doc_id
    GROUP BY s.y, CASE WHEN 2 * s.mu >= 1000000 THEN 1 ELSE 0 END
    """,
)
def lr_nb_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-classifier audit over the SHARED held-out fold: the LR gate's
    2×2 confusion (true curated label × gate decision) with, per cell, how
    many of those documents the NB language classifier also got right —
    the evaluation artifact for composing the two gates.  ≤4 rows from one
    agg over the two prediction relations (both fold-pruned scans)."""
    from alertas_spark.operators import memo
    from alertas_spark.operators.classifier import _nb_predictions

    # the two prediction relations are independent — the NB side's scan runs
    # WHILE the driver steps the LR trainer's IRLS collect rounds
    # (memo.overlap, guide §2.6; the _ensemble_df pattern)
    lr, nb = memo.overlap(spark, [
        lambda: _lr_scored(spark, sf_dir).localCheckpoint(),
        lambda: _nb_predictions(spark, sf_dir).localCheckpoint(),
    ], max_workers=2)
    nb_hit = F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
    return (lr.join(nb, "doc_id")
            .select("y", (2 * F.col("mu") >= 1000000).cast("int")
                    .alias("lr_pred"), nb_hit.alias("nb_hit"))
            .groupBy("y", "lr_pred")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("nb_hit").cast("bigint").alias("nb_hits")))
