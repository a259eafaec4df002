"""Naive-Bayes document classifier — the classifier-filter pipeline stage.

Published pretraining pipelines (GPT-3's WebText-vs-CommonCrawl filter,
LLaMA's "wiki-referenced" classifier, CCNet's fastText language ID) all share
one stage shape: train a LINEAR text classifier on a labeled slice, broadcast
the model, score every crawl document, filter/route on the prediction.
Multinomial Naive Bayes over hashed unigram features is that stage in a form a
distributed engine can make *exact*: the model is count tables, scoring is a
per-(doc, class) integer dot product, and argmax has a deterministic tiebreak
— so Spark and the DuckDB oracle agree bit-for-bit (fastText's dense float
softmax cannot cross engines; NB is its exchangeable same-shape stand-in, and
at this stage's precision both are "a linear scorer over hashed text
features").

Shape at 100 TB: the model is ≤ B·|classes| + |classes| rows (hashed feature
space ``B = 4096`` — same bound as the DSIR LM tables, dsir.py), trained by
one map-side-combined agg over the labeled split and **broadcast** back onto
per-document feature counts; scoring is embarrassingly parallel with no wide
shuffle beyond the (doc, bucket) feature agg.  The label here is ``lang`` (the
fixture's only honest label — 5 classes); a quality label would swap one
column.

Exactness: every log is the repo's quantized-ln ``Q(x) = CAST(ROUND(LN(x)·1e9)
AS BIGINT)`` of an integer argument (perplexity_unigram idiom, textops.py);
per-class scores are exact integer sums; argmax = row_number over (score DESC,
lang ASC).  Train/test split is the md5-free ``pmod(doc_id, 5)`` fold — the
deterministic, reshard-stable split idiom (sampling.py).

Reference parity: extension operator (no reference counterpart); first-class
LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60_sql
from alertas_spark.operators.textops import hashed_word_counts
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: hashed-feature bucket count (same bound rationale as dsir.DSIR_B).
NB_B = 4096

#: test fold: docs with doc_id ≡ 0 (mod NB_FOLDS) are held out and scored.
NB_FOLDS = 5

#: label-domain bound of the driver-side model pull (``bounded_rows``): the
#: class label is a two-letter ``lang`` code.
NB_MAX_CLASSES = 26 * 26

#: feature bucket of a word ``t`` (``textops.hashed_word_counts``).
_BUCKET_DUCK = h60_sql("t", mod=NB_B)

#: shared oracle front half, ending in ``pred(doc_id, lang, pred_lang)`` —
#: one copy on each side so oracle and plan cannot drift.
_NB_PRED_CTES = f"""tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), fb AS (
        SELECT doc_id, lang, {_BUCKET_DUCK} AS b, COUNT(*) AS db
        FROM tok GROUP BY doc_id, lang, {_BUCKET_DUCK}
    ), model AS (
        SELECT lang AS cls, b,
               CAST(ROUND(LN(SUM(db) + 1) * 1e9) AS BIGINT) AS qln_ct1
        FROM fb WHERE doc_id % {NB_FOLDS} != 0 AND lang IS NOT NULL
        GROUP BY lang, b
    ), cls AS (
        SELECT lang AS cls,
               CAST(ROUND(LN(COUNT(DISTINCT doc_id)) * 1e9) AS BIGINT)
                   AS qln_prior,
               CAST(ROUND(LN(SUM(db) + {NB_B}) * 1e9) AS BIGINT) AS qln_den
        FROM fb WHERE doc_id % {NB_FOLDS} != 0 AND lang IS NOT NULL
        GROUP BY lang
    ), scored AS (
        SELECT fb.doc_id, fb.lang, cls.cls,
               cls.qln_prior
               + CAST(SUM(CAST(fb.db AS HUGEINT)
                          * (COALESCE(model.qln_ct1, 0) - cls.qln_den))
                      AS DECIMAL(38,0)) AS score
        FROM fb CROSS JOIN cls
        LEFT JOIN model ON model.b = fb.b AND model.cls = cls.cls
        WHERE fb.doc_id % {NB_FOLDS} = 0
        GROUP BY fb.doc_id, fb.lang, cls.cls, cls.qln_prior
    ), pred AS (
        SELECT doc_id, lang, cls AS pred_lang
        FROM (SELECT doc_id, lang, cls,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cls NULLS LAST)
                         AS rn
              FROM scored)
        WHERE rn = 1
    )"""


#: bump when the model derivation changes — artifact version key.
NB_CODE_VERSION = "nb-r15a"


def _nb_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained NB model as ONE artifact relation: feature rows
    (cls, b ≥ 0, qln_ct1, NULL, NULL) plus one per-class stats row
    (cls, −1, NULL, qln_prior, qln_den) — ≤ B·|classes| + |classes| rows,
    persisted through the artifact store (the trained-tokenizer lifecycle)
    so scoring sessions — batch OR streaming — load a few-hundred-KB
    parquet instead of re-training."""
    from alertas_spark.operators.artifacts import persistent_artifact

    def build() -> DataFrame:
        fb = hashed_word_counts(load_table(spark, sf_dir, "documents"),
                                "lang", NB_B)
        # a NULL label is UNLABELED, not a class: excluded from the model
        # (both engines GROUP NULLs into a phantom class otherwise)
        train = fb.filter((F.col("doc_id") % NB_FOLDS != 0)
                          & F.col("lang").isNotNull())
        qln = lambda c: F.round(F.log(c) * 1e9).cast("bigint")  # noqa: E731
        feat = (train.groupBy(F.col("lang").alias("cls"), "b")
                .agg(qln(F.sum("db") + 1).alias("qln_ct1"))
                .select("cls", "b", "qln_ct1",
                        F.lit(None).cast("bigint").alias("qln_prior"),
                        F.lit(None).cast("bigint").alias("qln_den")))
        stats = (train.groupBy(F.col("lang").alias("cls"))
                 .agg(qln(F.countDistinct("doc_id")).alias("qln_prior"),
                      qln(F.sum("db") + NB_B).alias("qln_den"))
                 .select("cls", F.lit(-1).cast("bigint").alias("b"),
                         F.lit(None).cast("bigint").alias("qln_ct1"),
                         "qln_prior", "qln_den"))
        return feat.unionByName(stats)

    return persistent_artifact(spark, sf_dir, "nb_model",
                               NB_CODE_VERSION, "documents", build)


def _nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, pred_lang) over the held-out fold — the Spark twin of
    ``_NB_PRED_CTES``."""
    docs = load_table(spark, sf_dir, "documents")
    fb = hashed_word_counts(docs, "lang", NB_B)
    test = fb.filter(F.col("doc_id") % NB_FOLDS == 0)
    art = _nb_model(spark, sf_dir)
    # model: ≤ NB_B·|classes| rows; cls: |classes| rows → both broadcast.
    model = art.filter(F.col("b") >= 0).select("cls", "b", "qln_ct1")
    cls = art.filter(F.col("b") == -1).select("cls", "qln_prior", "qln_den")
    scored = (test
              .crossJoin(F.broadcast(cls))
              .join(F.broadcast(model), ["b", "cls"], "left")
              .withColumn("term", F.col("db").cast("decimal(38,0)")
                          * (F.coalesce(F.col("qln_ct1"), F.lit(0))
                             - F.col("qln_den")))
              .groupBy("doc_id", "lang", "cls", "qln_prior")
              .agg(F.sum("term").alias("st"))
              .withColumn("score",
                          F.col("qln_prior").cast("decimal(38,0)")
                          + F.col("st")))
    # NULLS LAST pinned (corpus convention): cls is non-null by construction
    # now, but the ordering must not depend on that invariant
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                        F.col("cls").asc_nulls_last()))
    return (scored.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select("doc_id", "lang", F.col("cls").alias("pred_lang")))


@declare(
    "nb_lang_classify",
    oracle=f"""
    WITH {_NB_PRED_CTES}
    SELECT doc_id, lang, pred_lang,
           CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS hit
    FROM pred
    """,
)
def nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every held-out document (1-in-5 ``pmod(doc_id)`` fold) with a
    multinomial NB model trained on the other four folds — per-document true
    label, argmax prediction, and a hit flag.  The filter stage of a
    classifier-gated corpus: at 100 TB the held-out fold is 'the crawl' and
    the trained folds are 'the labeled seed'; the model broadcast is a few
    hundred KB regardless of corpus size."""
    return _nb_predictions(spark, sf_dir).withColumn(
        "hit", F.when(F.col("pred_lang") == F.col("lang"), 1)
                .otherwise(0).cast("int"))


@declare(
    "nb_classifier_confusion",
    oracle=f"""
    WITH {_NB_PRED_CTES}
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, pred_lang
    """,
)
def nb_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier's confusion matrix (true lang × predicted lang → count)
    — the evaluation artifact a pipeline operator reads before trusting a
    classifier gate.  |classes|² rows from one agg over the prediction
    relation."""
    return (_nb_predictions(spark, sf_dir)
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
