"""CLIP-score image–text alignment gate — the published multimodal curation
stage (LAION-400M/5B, Schuhmann et al. 2021/2022; DataComp, Gadre et al.
2023): a (caption, image) pair enters the training set iff the cosine between
its caption embedding and its image embedding clears a threshold (LAION used
0.28 with CLIP ViT-B/32).  This module is that gate as a relational tier,
plus the per-source retention audit a curation run reads before trusting the
threshold.

Pairing contract (fixture stand-in): the synthetic corpus has ONE embedding
table, so the two modalities are stood in deterministically — a document's
caption vector is ``embeddings[vec_id = doc_id]`` and its image vector is its
asset group's representative ``embeddings[vec_id = doc_id − (doc_id % 2)]``
(documents 2k/2k+1 share asset 2k: even documents are self-aligned, odd
documents carry a neighbor render).  The pairing is pure integer arithmetic —
no corpus-size dependence, so the scale probe grows both sides linearly.  A
real deployment swaps the two join keys for its caption/image embedding
tables; every other line is the production shape.

Cross-engine exactness: the cosine is the UNROUNDED double from the
sequential-fold dot product (simsearch's ``_dot`` ≙ DuckDB ``list_reduce`` —
same fold order, bit-equal) over correctly-rounded ``sqrt`` norms, so the
threshold comparison is not a float seam; the displayed score is rounded for
output only.  Invalid vectors (NULL/empty/non-finite/zero norm) drop the pair
on BOTH engines via the shared embedding-validity gate.

Scale shape: two equi joins of documents to embeddings on bigint keys
(bucket-colocatable; at 100 TB the embedding side is the big relation and
both joins shuffle on its key once), one scan-level cosine projection, and
for the audit one hash-agg to ≤|sources| rows.  No candidate generation — the
gate is per-pair, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.embgate import EMB_VALID_SQL
from alertas_spark.operators.simsearch import (_DUCK_DOT, _DUCK_NORM2, _corpus,
                                               _cosine)
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: LAION-400M's published CLIP-score cut for ViT-B/32.
CLIP_TAU = 0.28

#: shared oracle front half: ``cg_pairs(doc_id, source, cos)`` — one row per
#: document whose caption AND image vectors are valid.
CLIP_PAIRS_CTES = f"""cg_v AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt({_DUCK_NORM2.format(a="embedding::DOUBLE[]")}) AS nrm
        FROM embeddings WHERE {EMB_VALID_SQL}
    ), cg_pairs AS (
        SELECT d.doc_id, d.source,
               {_DUCK_DOT.format(a="c.emb", b="g.emb")} / (c.nrm * g.nrm)
                   AS cos
        FROM documents d
        JOIN cg_v c ON c.vec_id = d.doc_id
        JOIN cg_v g ON g.vec_id = d.doc_id - (d.doc_id % 2)
    )"""


def clip_pairs(spark: SparkSession, sf_dir: str,
               docs: DataFrame | None = None) -> DataFrame:
    """``(doc_id, source, cos)`` — the Spark twin of ``cg_pairs``; consumed
    by both declared queries and ``pipeline_quality_ensemble``.

    ``docs`` overrides the document relation (must carry ``doc_id, source``)
    — the streaming tier passes the documents STREAM here, so the served
    gate is literally the batch expression over an incremental source
    (stream-static join: the embedding sides stay static)."""
    v = _corpus(spark, sf_dir)
    cap = v.select(F.col("vec_id").alias("cap_id"),
                   F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm"))
    img = v.select(F.col("vec_id").alias("img_id"),
                   F.col("emb").alias("iemb"), F.col("nrm").alias("inrm"))
    if docs is None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id",
                                                             "source")
    return (docs
            .join(cap, F.col("cap_id") == F.col("doc_id"))
            .join(img, F.col("img_id")
                  == F.col("doc_id") - (F.col("doc_id") % 2))
            .select("doc_id", "source",
                    _cosine("cemb", "cnrm", "iemb", "inrm").alias("cos")))


def gate_projection(pairs: DataFrame) -> DataFrame:
    """The gate's output projection over a ``(doc_id, source, cos)`` relation
    — shared by ``multimodal_clip_gate`` and ``streaming_clip_gate`` so the
    served bit is the batch bit by construction (keep-decision from the
    UNROUNDED cosine; the displayed score rounded for output only)."""
    return pairs.select("doc_id", "source",
                        F.round("cos", 6).alias("clip_score"),
                        F.when(F.col("cos") >= CLIP_TAU, 1).otherwise(0)
                        .cast("int").alias("clip_ok"))


@declare(
    "multimodal_clip_gate",
    oracle=f"""
    WITH {CLIP_PAIRS_CTES}
    SELECT doc_id, source, ROUND(cos, 6) AS clip_score,
           CAST(CASE WHEN cos >= {CLIP_TAU} THEN 1 ELSE 0 END AS INTEGER)
               AS clip_ok
    FROM cg_pairs
    """,
)
def multimodal_clip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alignment gate itself: per document, its caption–image CLIP-score
    stand-in and the keep bit at the published τ = {CLIP_TAU} — the bit is
    computed from the UNROUNDED cosine on both engines (the
    ``decontaminate_embedding`` contract), so the threshold never becomes a
    rounding seam.  Feeds ``pipeline_quality_ensemble`` as ``gate_clip`` and
    ``streaming_clip_gate`` as the replay contract."""
    return gate_projection(clip_pairs(spark, sf_dir))


@declare(
    "multimodal_clip_retention",
    oracle=f"""
    WITH {CLIP_PAIRS_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN cos >= {CLIP_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           (10000 * CAST(SUM(CASE WHEN cos >= {CLIP_TAU} THEN 1 ELSE 0 END)
                         AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
               AS retention_bp
    FROM cg_pairs GROUP BY source ORDER BY source
    """,
)
def multimodal_clip_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit a multimodal curation run reads next to the gate: per
    source, how many pairs were scored and how many survive τ = {CLIP_TAU},
    in basis points — a source whose retention collapses signals a caption
    pipeline problem, not a data problem (the DataComp operating practice).

    Plan: the gate's pair relation, one hash-agg to ≤|sources| rows."""
    kept = F.sum(F.when(F.col("cos") >= CLIP_TAU, 1).otherwise(0)) \
            .cast("bigint")
    return (clip_pairs(spark, sf_dir)
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 kept.alias("n_kept"))
            .select("source", "n_pairs", "n_kept",
                    F.expr("(10000 * n_kept) div n_pairs")
                    .alias("retention_bp"))
            .orderBy("source"))
