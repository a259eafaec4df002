"""Sequence packing: assign documents to fixed-token-budget training packs.

The concat-and-chunk packing used by LLM pre-training dataloaders: lay documents
end-to-end in a deterministic order and cut every ``PACK_BUDGET`` tokens; a document's
pack is the budget-bucket of the tokens accumulated before it.

Scale design: packing is per ``source`` shard (window PARTITION BY source), never a
global ordering — a single global cumulative sum would serialize onto one reducer,
while per-shard windows shuffle once on the shard key and each shard's running sum
stays independent (in production the shard key is the file/split id, giving thousands
of parallel packing streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

PACK_BUDGET = 1024  # tokens per pack


def _laid(df: DataFrame, *order: str) -> DataFrame:
    """``df`` plus ``cum_before``: the ``n_tokens`` laid before each row in
    its ``source`` shard, rows ordered by ``order`` (default ``doc_id``) —
    the one per-source packing window every packer uses."""
    w = (Window.partitionBy("source").orderBy(*(order or ("doc_id",)))
         .rowsBetween(Window.unboundedPreceding, -1))
    return df.withColumn("cum_before",
                         F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))


def pack_ids(df: DataFrame, *order: str) -> DataFrame:
    """``df`` plus ``pack_id``: the budget bucket of the tokens laid before
    each row (:func:`_laid`).  ``n_tokens`` must be integral: the bucket is
    BIGINT ``div``, exact at any size (floor over a double division equals
    it only below 2^53)."""
    return (_laid(df, *order)
            .withColumn("pack_id",
                        F.expr(f"cast(cum_before div {PACK_BUDGET} as int)"))
            .drop("cum_before"))


@declare(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM toks
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential packing: per-source running token count, pack_id = bucket of
    the tokens before this document.  Deterministic (ordered by doc_id within source)
    and reshard-stable; one shuffle on the shard key."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words())
    return (pack_ids(docs.select("doc_id", "source",
                                 n_tokens.alias("n_tokens")))
            .withColumn("n_tokens", F.col("n_tokens").cast("int")))


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 100
CHUNK_OVERLAP = 20
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@declare(
    "doc_chunk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), idx AS (
        SELECT doc_id, tok, len(tok) AS n,
               unnest(range(0, CAST(ceil(GREATEST(len(tok) - {CHUNK_OVERLAP}, 1)
                                         / {_STRIDE}.0) AS BIGINT))) AS chunk_idx
        FROM toks WHERE len(tok) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * {_STRIDE} AS INTEGER) AS token_start,
           CAST(LEAST({CHUNK_TOKENS}, n - chunk_idx * {_STRIDE}) AS INTEGER)
               AS n_tokens,
           md5(array_to_string(tok[chunk_idx * {_STRIDE} + 1 :
                                   chunk_idx * {_STRIDE} + {CHUNK_TOKENS}], ' '))
               AS chunk_md5
    FROM idx
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking ({CHUNK_TOKENS}-token chunks, {CHUNK_OVERLAP}
    overlap) — the RAG / training-prep primitive that turns documents into
    model-sized pieces.  Pure scan-side explode (no shuffle); chunk content is
    pinned cross-engine by the md5 of the joined token window."""
    docs = load_table(spark, sf_dir, "documents")
    out = (
        docs.withColumn("tok", words())
        .withColumn("n", F.size("tok"))
        .filter(F.col("n") > 0)
        .withColumn("chunk_idx", F.explode(F.expr(
            f"sequence(0, cast(ceil(greatest(n - {CHUNK_OVERLAP}, 1) / {_STRIDE}.0) "
            f"as int) - 1)")))
    )
    start = F.col("chunk_idx") * _STRIDE
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("token_start"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - start).cast("int").alias("n_tokens"),
        F.md5(F.array_join(F.slice("tok", start + 1, CHUNK_TOKENS), " "))
        .alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: easy→hard packing by LM cross-entropy
# ---------------------------------------------------------------------------

def _curriculum_oracle() -> str:
    from alertas_spark.operators.textops import _UNIGRAM_SCORED_CTES

    return f"""
    WITH {_UNIGRAM_SCORED_CTES}
    SELECT s.doc_id, d.source,
           CAST(s.n_tokens AS INTEGER) AS n_tokens,
           s.cross_entropy_nats,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS cur_rank,
           CAST(COALESCE(SUM(s.n_tokens) OVER (
                    PARTITION BY d.source
                    ORDER BY s.cross_entropy_nats, s.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM scored s JOIN documents d USING (doc_id)
    WINDOW w AS (PARTITION BY d.source
                 ORDER BY s.cross_entropy_nats, s.doc_id)
    """


@declare("curriculum_pack", oracle=_curriculum_oracle())
def curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum dataloader ordering: within each ``source`` shard, lay
    documents out easy→hard by unigram-LM cross-entropy (the published
    perplexity-curriculum shape — train on predictable text first) and cut
    fixed-budget packs along THAT order, so pack_id doubles as the
    curriculum phase.  Composes the CCNet scorer (textops._unigram_scores —
    artifact-served LM counts, quantized-ln exact so the ordering is
    engine-identical) with the per-shard window packing above: one shuffle
    on the shard key, no global sort (the global curriculum emerges from
    consuming shards' packs in pack_id order — the standard dataloader
    contract).  cur_rank is the document's position in its shard's
    curriculum."""
    from alertas_spark.operators.textops import _unigram_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    order = ("cross_entropy_nats", "doc_id")
    s = pack_ids(_unigram_scores(spark, sf_dir).join(docs, "doc_id"), *order)
    return s.select(
        "doc_id", "source",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "cross_entropy_nats",
        F.row_number().over(Window.partitionBy("source").orderBy(*order))
        .cast("int").alias("cur_rank"),
        "pack_id")


# ---------------------------------------------------------------------------
# Length-bucketed batching: minimize padding waste at fixed batch size
# ---------------------------------------------------------------------------

#: documents per batch and bucket edges (token-length powers of two).
BATCH_DOCS = 8
LEN_BUCKETS = (16, 32, 64, 128, 256)


def _bucket_case_duck() -> str:
    branches = " ".join(
        f"WHEN n_tokens <= {e} THEN {i}" for i, e in enumerate(LEN_BUCKETS))
    return f"CASE {branches} ELSE {len(LEN_BUCKETS)} END"


@declare(
    "pack_length_bucketed",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ), nz AS (
        SELECT doc_id, n_tokens, {_bucket_case_duck()} AS bucket
        FROM toks WHERE n_tokens > 0
    ), batched AS (
        SELECT doc_id, n_tokens, bucket,
               CAST((ROW_NUMBER() OVER (PARTITION BY bucket
                                        ORDER BY n_tokens, doc_id) - 1)
                    // {BATCH_DOCS} AS INTEGER) AS batch_id
        FROM nz
    )
    SELECT bucket, batch_id,
           CAST(COUNT(*) AS INTEGER) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste
    FROM batched
    GROUP BY bucket, batch_id
    """,
)
def pack_length_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching (the seq2seq dataloader op): bucket
    documents by token length, sort each bucket shortest-first, cut
    fixed-size batches, and account the padding waste each batch pays when
    padded to its own max length.  Sorting within buckets puts near-equal
    lengths together, which is the whole trick — padding cost collapses
    versus arrival-order batching.  Per-bucket windows only (≤ |buckets|
    shards — each shard's window parallelizes like ``pack_sequences``); the
    output is batch-level, so downstream mixing/sharding operates on
    batches, not rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.size(words())
                    .cast("bigint").alias("n_tokens"))
            .filter(F.col("n_tokens") > 0))
    bucket = F.lit(len(LEN_BUCKETS))
    for i, e in reversed(list(enumerate(LEN_BUCKETS))):
        bucket = F.when(F.col("n_tokens") <= e, i).otherwise(bucket)
    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    batched = (toks.withColumn("bucket", bucket)
               .withColumn("batch_id",
                           F.floor((F.row_number().over(w) - 1) / BATCH_DOCS)
                           .cast("int")))
    return (batched.groupBy("bucket", "batch_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_docs"),
                 F.max("n_tokens").alias("max_len"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 (F.count(F.lit(1)) * F.max("n_tokens")
                  - F.sum("n_tokens")).cast("bigint").alias("padding_waste")))


# ---------------------------------------------------------------------------
# Token-level concat-and-chunk: documents SPLIT across pack boundaries
# ---------------------------------------------------------------------------


@declare(
    "pack_concat_chunk_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        FROM documents
    ), laid AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM toks WHERE n_tokens > 0
    ), spans AS (
        SELECT doc_id, source, n_tokens, cum_before,
               cum_before // {PACK_BUDGET} AS p0,
               (cum_before + n_tokens - 1) // {PACK_BUDGET} AS p1,
               unnest(generate_series(
                   CAST(cum_before // {PACK_BUDGET} AS BIGINT),
                   CAST((cum_before + n_tokens - 1)
                        // {PACK_BUDGET} AS BIGINT))) AS p
        FROM laid
    )
    SELECT doc_id, source, CAST(p AS INTEGER) AS pack_id,
           CAST(LEAST((p + 1) * {PACK_BUDGET}, cum_before + n_tokens)
                - GREATEST(p * {PACK_BUDGET}, cum_before) AS INTEGER)
               AS n_in_pack,
           CAST(p1 - p0 + 1 AS INTEGER) AS n_spans,
           CAST(CASE WHEN p1 > p0 THEN 1 ELSE 0 END AS INTEGER) AS is_split
    FROM spans
    """,
)
def pack_concat_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKEN-level concat-and-chunk manifest — what a GPT-style
    pre-training dataloader actually materializes: documents laid end-to-end
    per source shard and cut every {PACK_BUDGET} tokens WITHOUT respecting
    document boundaries, so a document crossing a cut contributes a row per
    pack it spans with its token count in that pack.  (``pack_sequences``
    is the boundary-respecting variant that assigns whole documents to the
    pack where they start; this tier is the zero-padding-waste one — every
    pack is exactly full except each shard's last.)

    Pure integer algebra: global offsets from the per-shard window cumsum,
    span packs by floor division, per-pack contribution by LEAST/GREATEST —
    no float anywhere.  Scale shape: one shuffle on the shard key for the
    window, then a scan-side explode of ≤ (n_tokens // budget + 1) span
    rows per document."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words())
    laid = _laid(docs.select("doc_id", "source",
                             n_tokens.cast("bigint").alias("n_tokens"))
                 .filter(F.col("n_tokens") > 0))
    spans = (laid
             .withColumn("p0", F.expr(f"cum_before div {PACK_BUDGET}"))
             .withColumn("p1", F.expr(f"(cum_before + n_tokens - 1) "
                                      f"div {PACK_BUDGET}"))
             .withColumn("p", F.explode(F.expr("sequence(p0, p1)"))))
    n_in_pack = (F.least((F.col("p") + 1) * PACK_BUDGET,
                         F.col("cum_before") + F.col("n_tokens"))
                 - F.greatest(F.col("p") * PACK_BUDGET, F.col("cum_before")))
    return spans.select(
        "doc_id", "source",
        F.col("p").cast("int").alias("pack_id"),
        n_in_pack.cast("int").alias("n_in_pack"),
        (F.col("p1") - F.col("p0") + 1).cast("int").alias("n_spans"),
        (F.col("p1") > F.col("p0")).cast("int").alias("is_split"))


@declare(
    "pack_concat_audit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
        FROM documents
    ), nz AS (SELECT * FROM toks WHERE n_tokens > 0),
    laid AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM nz
    ),
    -- ONE aggregation (no join back on source: a NULL source group would
    -- fall out of a USING join — NULL never equals NULL — while the Spark
    -- twin's single agg keeps it; adversarial-fixture caught)
    per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN (cum_before + n_tokens - 1)
                                  // {PACK_BUDGET}
                                  > cum_before // {PACK_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        FROM laid GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           (n_tokens + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS n_packs,
           n_split_docs,
           (10000 * (n_tokens - ((n_tokens + {PACK_BUDGET - 1})
                                 // {PACK_BUDGET} - 1) * {PACK_BUDGET}))
               // {PACK_BUDGET} AS tail_fill_bp
    FROM per_src
    ORDER BY source
    """,
)
def pack_concat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the concat-and-chunk layout: documents, tokens,
    packs cut, documents split across a boundary, and the fill of the one
    partial (tail) pack in basis points — every pack but the tail is exactly
    full BY CONSTRUCTION, so this one number is the shard's whole padding
    story (contrast ``pack_length_bucketed``'s per-batch padding_waste).
    Pure integer algebra; one shard-keyed window + one hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words())
    nz = (docs.select("doc_id", "source",
                      n_tokens.cast("bigint").alias("n_tokens"))
          .filter(F.col("n_tokens") > 0))
    laid = _laid(nz)
    crosses = (F.expr(f"(cum_before + n_tokens - 1) div {PACK_BUDGET}")
               > F.expr(f"cum_before div {PACK_BUDGET}")).cast("int")
    agg = (laid.groupBy("source")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                F.sum(crosses).cast("bigint").alias("n_split_docs")))
    return (agg.select(
                "source", "n_docs", "n_tokens",
                F.expr(f"(n_tokens + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
                .alias("n_packs"),
                "n_split_docs",
                F.expr(f"(10000 * (n_tokens - ((n_tokens + {PACK_BUDGET - 1})"
                       f" div {PACK_BUDGET} - 1) * {PACK_BUDGET}))"
                       f" div {PACK_BUDGET}").alias("tail_fill_bp"))
            .orderBy("source"))
