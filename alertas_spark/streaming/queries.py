"""Declared queries that execute the streaming operators end-to-end.

``streaming_tumbling_5min`` replays the whole events table through a real
Structured Streaming query (file source → watermark → window agg → memory sink,
availableNow trigger) and is checked against the SAME DuckDB oracle as the batch
operator — full-replay complete-mode output is definitionally equal to the batch
aggregation.  ``streaming_user_totals`` exercises the custom stateful operator
(rows-only check: state-store output is not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from alertas_spark.functions.keys import h60_py
from alertas_spark.functions.numeric import sql_dsum
from alertas_spark.operators.artifacts import bounded_rows
from alertas_spark.operators.memo import model_udf
from alertas_spark.operators.textops import (QUALITY_GATE_SQL, WORD_RE,
                                             WS_RE, norm_text,
                                             quality_gate_cond, words)
from alertas_spark.registry import REGISTRY, declare
from alertas_spark.streaming import events as ev


@declare(
    "streaming_tumbling_5min",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation, replayed to completion."""
    return ev.run_to_memory(ev.tumbling_counts(ev.read_events_stream(spark, sf_dir)))


@declare(
    "streaming_user_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value', 4)} AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user running totals (custom stateful operator).

    Full replay emits each user's final running total exactly once (availableNow over
    the single-file source is one micro-batch), and the state update accumulates with
    the same decimal contract as :func:`functions.numeric.dsum` — so the output is
    definitionally the batch ``GROUP BY user_id`` aggregate, which is the oracle."""
    return ev.run_to_memory(
        ev.user_running_totals(ev.read_events_stream(spark, sf_dir)),
        output_mode="update", shuffle_partitions=8)


@declare(
    "streaming_dedup_counts",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the event id inside the stream (state
    store holds seen ids; pair with a watermark to bound state in production), then a
    per-type count.  Full replay ≡ batch COUNT(DISTINCT) — the oracle."""
    from pyspark.sql import functions as F

    stream = ev.read_events_stream(spark, sf_dir).dropDuplicates(["event_id"])
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return ev.run_to_memory(counts, shuffle_partitions=8)


@declare(
    "streaming_static_join",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_start,
           c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (stream side never shuffles for the join — the
    static dim broadcasts per micro-batch), then a windowed aggregate per segment."""
    from pyspark.sql import functions as F

    from alertas_spark.functions.numeric import dsum
    from alertas_spark.sources.catalog import load_table

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = ev.read_events_stream(spark, sf_dir).join(customers, "user_id")
    out = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 4).alias("total_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
                "c_mktsegment", "n_events", "total_value")
    )
    return ev.run_to_memory(out, shuffle_partitions=8)


@declare(
    "streaming_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(c.ts AS VARCHAR) AS click_ts, CAST(p.ts AS VARCHAR) AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click→purchase attribution pairs within a
    10-minute window, both sides watermarked so the state store can discard rows
    older than the interval + watermark (the condition Spark requires for
    stream-stream state cleanup).  Full replay ≡ the batch range self-join — the
    oracle.  At scale both streams shuffle once on user_id and state stays bounded
    by (watermark + interval) × per-user rate."""
    from pyspark.sql import functions as F

    clicks = (
        ev.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .selectExpr("event_id AS click_id", "user_id", "ts AS click_ts")
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .selectExpr("event_id AS purchase_id", "user_id AS p_user_id",
                    "ts AS purchase_ts")
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    out = joined.select(
        "click_id", "purchase_id", "user_id",
        F.col("click_ts").cast("string").alias("click_ts"),
        F.col("purchase_ts").cast("string").alias("purchase_ts"),
    )
    return ev.run_to_memory(out, output_mode="append", shuffle_partitions=8)


@declare(
    "streaming_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {ev.SESSION_GAP_S} * 1000000
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` gap-based sessionization in the streaming engine,
    replayed to completion.  Full replay ≡ the batch gaps-and-islands rewrite — the
    same oracle CTE as ``events_sessionize``, reduced to the session_window output
    columns.  Pins that Spark's session-merge semantics agree with the explicit
    lag/cumsum construction down to microsecond gap arithmetic."""
    from pyspark.sql import functions as F

    out = ev.session_aggregates(ev.read_events_stream(spark, sf_dir)).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .alias("session_start"),
        "n_events", "total_value",
    )
    return ev.run_to_memory(out, shuffle_partitions=8)


@declare(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark`` keeps
    an id in the state store only until the watermark passes its event time, then
    evicts it — the production path at scale, where the unbounded ``dropDuplicates``
    sibling's state grows with the total id cardinality forever.  The contract is
    weaker (duplicates are only suppressed while their first occurrence is within
    the watermark) but that is exactly the guarantee replayed pipelines need:
    at-least-once sources re-deliver within minutes, not months.

    Full replay over the single-file source is one micro-batch, so every row is
    processed before the watermark first advances and the output equals the batch
    ``COUNT(DISTINCT)`` — the oracle.  tests/test_streaming.py drives the
    duplicate-suppression behavior explicitly with a doubled source."""
    from pyspark.sql import functions as F

    stream = (
        ev.read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return ev.run_to_memory(counts, shuffle_partitions=8)


@declare(
    "streaming_clean_corpus",
    oracle=f"""
    WITH gated AS (
        SELECT lang,
               regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g') AS norm,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS BIGINT) AS n_tok
        FROM documents
        WHERE {QUALITY_GATE_SQL}
    ), kept AS (
        SELECT lang, norm, MIN(n_tok) AS n_tok FROM gated GROUP BY lang, norm
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM kept GROUP BY lang
    """,
)
def streaming_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning pipeline under INCREMENTAL execution — the batch
    tier's quality gate (text_quality's Gopher/C4 pass rule) and exact dedup
    (dedup_exact's normalize→md5 identity) composed into one streaming query
    over a documents file stream: stateless scan-side gate → stateful
    ``dropDuplicates`` on (lang, content_hash) → running per-lang corpus
    totals.  Pins that the batch operators' column expressions survive
    micro-batch planning unchanged — the cleaning logic is the SAME code
    shape, only the source/sink differ.

    Determinism across the dedup winner: every aggregated value is derived
    from the lowercased token stream or the dedup key itself, and documents
    sharing a normalized text share those exactly — so which copy survives a
    racy first-seen dedup cannot change the output (the oracle's MIN(n_tok)
    is a constant within each group for the same reason).

    Scale contract: the gate is stateless; dedup state is one ~16-byte md5
    key per distinct (lang, normalized-text) — bounded by DISTINCT corpus
    content, not stream length; the per-lang rollup state is lang-cardinality
    rows.  A production deployment bounds the dedup state further with an
    ingest-time watermark + ``dropDuplicatesWithinWatermark`` (the
    ``streaming_dedup_within_watermark`` pattern); the fixture replay is one
    availableNow micro-batch, where full-replay output definitionally equals
    the batch aggregate — the oracle."""
    from pyspark.sql import functions as F

    docs = ev.read_documents_stream(spark, sf_dir)
    toks = words()
    n_tokens = F.size(toks).cast("bigint")
    norm = norm_text()
    gated = (docs
             .filter(quality_gate_cond())
             .select("lang", F.md5(norm).alias("content_hash"),
                     n_tokens.alias("n_tok")))
    kept = gated.dropDuplicates(["lang", "content_hash"])
    out = (kept.groupBy("lang")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("n_tokens")))
    return ev.run_to_memory(out, shuffle_partitions=8)


def _manifest_oracle() -> str:
    """Batch front half in DuckDB: gate → distinct (lang, norm) → retrain
    the BPE merges (unrolled CTEs) → tokenize each distinct content's words
    → per-(lang, hash) token totals."""
    from alertas_spark.operators.bpe import _apply_ctes, _train_ctes

    docw_body = """
        SELECT md5(norm) AS doc_id, t.w AS word FROM kept,
        LATERAL unnest(regexp_extract_all(norm, '[a-z0-9]+')) AS t(w)"""
    return f"""
    WITH gated AS MATERIALIZED (
        SELECT lang,
               regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g') AS norm
        FROM documents
        WHERE {QUALITY_GATE_SQL}
    ), kept AS MATERIALIZED (
        SELECT DISTINCT lang, norm FROM gated
    ),
    {_train_ctes()},
    {_apply_ctes(docw_body=docw_body)},
    kw AS (
        SELECT lang, md5(norm) AS content_hash, t.w AS word FROM kept,
        LATERAL unnest(regexp_extract_all(norm, '[a-z0-9]+')) AS t(w)
    )
    SELECT kw.lang, kw.content_hash,
           CAST(sum(tokc.ntok) AS BIGINT) AS n_tokens
    FROM kw JOIN tokc USING (word)
    GROUP BY kw.lang, kw.content_hash
    """


@declare("streaming_corpus_manifest", oracle=_manifest_oracle())
def streaming_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-to-batches capstone's FRONT HALF under incremental
    execution: quality gate → trained-BPE token-count ENRICHMENT → exact
    content dedup, emitting an append-only manifest row per distinct clean
    content — (lang, content_hash, n_tokens), the relation the batch back
    half packs into training batches.

    **Artifact-served merges on the stream**: the trained merge table is
    loaded from the persistent artifact store batch-side BEFORE the stream
    starts and rides the session's one broadcast of the BPE model
    (``bpe.merges_udf``, shared with ``bpe_token_count``) into an
    Arrow-batched pandas UDF that tokenizes each document's normalized words
    directly.  The batch tier's
    distinct-word-then-join-back shape needs a corpus-wide DISTINCT — an
    unbounded-state shuffle a stream cannot do incrementally — so the
    streaming tier pays per-document tokenization instead (cost ∝ the
    document's own words: the standard streaming-enrichment trade, same as
    a KenLM scorer in a streaming CCNet pipeline).

    **Why pack_id stays in the batch back half**: pack assignment is a
    per-source cumulative token sum in doc_id order — row N's pack_id
    depends on EVERY earlier document in its shard, so one late-arriving
    document with a smaller doc_id (or any upstream retraction) shifts
    every subsequent pack boundary in that shard.  An incremental operator
    would have to either re-emit unbounded retractions or freeze arrival
    order (making output depend on micro-batch timing, not data).  The
    manifest is therefore the streaming/batch seam: the stream maintains it
    append-only; ``pipeline_corpus_to_batches`` cuts packs from a manifest
    SNAPSHOT, where the cumsum is a deterministic per-source window.

    Determinism across the dedup winner: every emitted column is derived
    from the dedup key itself (lang, normalized text) — token counts are
    computed from the NORMALIZED text, which duplicates share by
    definition — so which physical copy survives ``dropDuplicates`` cannot
    change the manifest.  State contract: one ~16-byte md5 key per distinct
    (lang, content); production bounds it with an ingest-time watermark +
    ``dropDuplicatesWithinWatermark`` (the tested pattern above).  Full
    replay over the fixture is one availableNow micro-batch, so the output
    equals the batch front half — the oracle (which retrains the tokenizer
    in unrolled SQL, the bpe contract)."""
    import re as _re

    from pyspark.sql import functions as F

    from alertas_spark.operators.bpe import _apply_merges_ranked, merges_udf

    word_re = _re.compile(WORD_RE)
    ntok_doc = merges_udf(
        spark, sf_dir,
        lambda m: lambda s: sum(len(_apply_merges_ranked(w, *m))
                                for w in word_re.findall(s)),
        "bigint")

    docs = ev.read_documents_stream(spark, sf_dir)
    norm = norm_text()
    gated = (docs
             .filter(quality_gate_cond())
             .select("lang", F.md5(norm).alias("content_hash"),
                     ntok_doc(norm).alias("n_tokens")))
    manifest = gated.dropDuplicates(["lang", "content_hash"])
    return ev.run_to_memory(manifest, output_mode="append",
                            shuffle_partitions=8)


# ---------------------------------------------------------------------------
# Trained-classifier gate under micro-batch execution
# ---------------------------------------------------------------------------

def _nb_gate_oracle() -> str:
    from alertas_spark.operators.classifier import _NB_PRED_CTES

    return f"""
    WITH {_NB_PRED_CTES}
    SELECT doc_id, lang, pred_lang,
           CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS hit
    FROM pred
    """


@declare("streaming_classifier_gate", oracle=_nb_gate_oracle())
def streaming_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier-filter stage SERVED ON THE STREAM: the trained NB model
    (operators/classifier._nb_model — artifact-store relation, the trained-
    tokenizer lifecycle) is pulled batch-side before the stream starts and
    rides an ``sc.broadcast`` into an Arrow-batched pandas UDF that scores
    each arriving document — the deployment shape of a quality/domain gate in
    a streaming ingest pipeline (CCNet's fastText gate on a crawl feed).

    The driver-side model pull is bounded by the model GEOMETRY
    (≤ B·|classes| + |classes| rows — a few hundred KB at any corpus size;
    ``bounded_rows`` enforces it with ``NB_MAX_CLASSES``), the same
    justification as the ≤16-row BPE merges read; per-document
    scoring is stateless (zero state store), so the stream needs no
    watermark and the output is append-only.

    Exactness: tokenization stays JVM-side (``textops.words``, as in the
    batch tier — only already-tokenized arrays cross into Python), buckets
    are ``keys.h60_py`` (≡ the engines' ``h60``); scores are pure-integer
    sums of the artifact's quantized-ln terms with the batch tier's
    (score DESC, cls ASC) argmax tiebreak, so full replay equals ``nb_lang_classify`` row-for-row — and
    the oracle IS that query's SQL.  Token-less and NULL-text documents are
    out of scope on both sides (no feature rows to score)."""
    from pyspark.sql import functions as F

    from alertas_spark.operators.classifier import (NB_B, NB_FOLDS,
                                                    NB_MAX_CLASSES, _nb_model)

    def load():
        # one partition: the limit pull over a multi-partition artifact
        # scans partitions in rounds, one job each
        rows = bounded_rows(_nb_model(spark, sf_dir).coalesce(1),
                            (NB_B + 1) * NB_MAX_CLASSES, "nb_model")
        feat = {(r["cls"], r["b"]): r["qln_ct1"] for r in rows if r["b"] >= 0}
        stats = {r["cls"]: (r["qln_prior"], r["qln_den"])
                 for r in rows if r["b"] == -1}
        return feat, stats

    def make(model):
        feat, stats = model
        classes = sorted(stats)

        def score_one(tok_list) -> str:
            db: dict[int, int] = {}
            for t in tok_list:
                b = h60_py(t, NB_B)
                db[b] = db.get(b, 0) + 1
            return min(classes, key=lambda c: (
                -(stats[c][0] + sum(n * (feat.get((c, b), 0) - stats[c][1])
                                    for b, n in db.items())), c))

        return score_one

    pred = model_udf(spark, ("nb_model", sf_dir), load, make, "string")

    docs = ev.read_documents_stream(spark, sf_dir)
    tok = words()
    gated = (docs
             .filter(F.col("text").isNotNull()
                     & (F.col("doc_id") % NB_FOLDS == 0))
             .withColumn("tok", tok)
             .filter(F.size("tok") > 0)
             .select("doc_id", "lang", pred("tok").alias("pred_lang"))
             .withColumn("hit", F.when(F.col("pred_lang") == F.col("lang"), 1)
                         .otherwise(0).cast("int")))
    return ev.run_to_memory(gated, output_mode="append")


# ---------------------------------------------------------------------------
# Bloom decontamination gate under micro-batch execution
# ---------------------------------------------------------------------------

def _bloom_gate_oracle() -> str:
    from alertas_spark.operators.bloom import _BLOOM_HITS_CTES

    return f"""
    WITH {_BLOOM_HITS_CTES}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
    FROM hits GROUP BY doc_id
    """


@declare("streaming_bloom_gate", oracle=_bloom_gate_oracle())
def streaming_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark bloom filter SERVED ON THE STREAM — the third trained/
    bounded structure deployed under micro-batch (after the BPE merges and
    the NB model): the ≤k·m (probe,pos) set is built batch-side, collected
    — bounded by the BLOOM GEOMETRY, never the benchmark size — and rides
    an ``sc.broadcast`` into an Arrow UDF that counts each arriving
    document's flagged 5-grams.  An ingest pipeline drops (or quarantines)
    flagged documents before they ever land in the corpus, instead of
    scrubbing after the fact.

    Exactness: tokenization stays JVM-side (the batch tier's exact
    lower/regex — only token arrays cross into Python); gram strings,
    their k md5 probes, and the all-k membership test replicate the batch
    algebra byte-for-byte (``keys.h60_py`` ≡ the engines' ``h60``), so full
    replay equals ``decontaminate_bloom`` row-for-row and the oracle IS
    that query's SQL.  Stateless append stream — no watermark, no state
    store; per-micro-batch cost is the documents' own grams."""
    from pyspark.sql import functions as F

    from alertas_spark.operators.bloom import (BLOOM_K, BLOOM_M,
                                               _probe_rows,
                                               _train_bench_grams)
    from alertas_spark.operators.textops import DECON_BENCH_MOD, DECON_N

    def load():
        _, bench = _train_bench_grams(spark, sf_dir)
        pairs = _probe_rows(bench).select("probe", "pos").distinct()
        return frozenset((r["probe"], r["pos"]) for r in
                         bounded_rows(pairs, BLOOM_K * BLOOM_M, "bloom_probes"))

    def make(fset):
        def count_one(tok_list) -> int:
            grams = {" ".join(tok_list[i:i + DECON_N])
                     for i in range(len(tok_list) - DECON_N + 1)}
            n = 0
            for g in grams:
                if all((i, h60_py(f"bl{i}:{g}", BLOOM_M)) in fset
                       for i in range(BLOOM_K)):
                    n += 1
            return n

        return count_one

    n_flagged = model_udf(spark, ("bloom_probes", sf_dir), load, make,
                          "bigint")

    docs = ev.read_documents_stream(spark, sf_dir)
    tok = words()
    gated = (docs
             .filter((F.col("doc_id") % DECON_BENCH_MOD != 0)
                     & F.col("text").isNotNull())  # NULL text has no grams
             .withColumn("tok", tok)
             .select("doc_id", n_flagged("tok").alias("n_flagged_grams"))
             .filter(F.col("n_flagged_grams") > 0))
    return ev.run_to_memory(gated, output_mode="append")


# ---------------------------------------------------------------------------
# IRLS-trained LR quality gate under micro-batch execution
# ---------------------------------------------------------------------------

def _lr_gate_oracle() -> str:
    from alertas_spark.operators.logreg import _LR_SCORED_CTES

    return f"""
    WITH {_LR_SCORED_CTES}
    SELECT doc_id, y, mu AS mu_q,
           CAST(mu AS DOUBLE) / 1e6 AS prob,
           CAST(CASE WHEN 2 * mu >= 1000000 THEN 1 ELSE 0 END AS INTEGER)
               AS pred,
           CAST(CASE WHEN (2 * mu >= 1000000) = (y = 1) THEN 1 ELSE 0 END
                AS INTEGER) AS hit
    FROM lr_scored
    """


@declare("streaming_lr_gate", oracle=_lr_gate_oracle())
def streaming_lr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IRLS-trained LR quality gate SERVED ON THE STREAM — the fourth
    trained/bounded structure deployed under micro-batch (BPE merges, NB
    model, bloom filter, now three LR betas): the artifact-store β is
    collected batch-side (ONE row) and rides an ``sc.broadcast`` into an
    Arrow UDF that computes each arriving document's integer logit
    ``z·1e9 = β0 + β1·x1 + β2·x2`` from its hashed bucket counts.

    Exactness: the UDF emits ONLY the exact-integer logit (``keys.h60_py``
    ≡ the engines' ``h60``, counts are integers); the sigmoid — the one libm
    call — is evaluated JVM-SIDE with the batch tier's expression on the
    same integer column, so full replay equals ``lr_quality_score``
    row-for-row and the oracle IS that query's SQL.  Stateless append
    stream — no watermark, no state store."""
    from pyspark.sql import functions as F

    from alertas_spark.operators.dsir import TARGET_SOURCES
    from alertas_spark.operators.logreg import LR_B, LR_FOLDS, _lr_model

    def load():
        (b,) = bounded_rows(_lr_model(spark, sf_dir).coalesce(1), 1,
                            "lr_model")
        return b["b0"], b["b1"], b["b2"]

    def make(betas):
        b0, b1, b2 = betas

        def logit(tok_list) -> int:
            x = [0] * LR_B
            for t in tok_list:
                x[h60_py("lrb:" + t, LR_B)] += 1
            return b0 + b1 * x[0] + b2 * x[1]

        return logit

    zq = model_udf(spark, ("lr_model", sf_dir), load, make, "bigint")

    docs = ev.read_documents_stream(spark, sf_dir)
    tok = words()
    y = (F.when(F.coalesce(F.col("source").isin(*TARGET_SOURCES),
                           F.lit(False)), 1).otherwise(0))
    mu = F.round(1e6 / (1 + F.exp(-(F.col("zq").cast("double") / 1e9)))) \
          .cast("bigint")
    pred = (2 * F.col("mu_q") >= 1000000).cast("int")
    gated = (docs
             .filter(F.col("text").isNotNull()
                     & (F.col("doc_id") % LR_FOLDS == 0))
             .withColumn("tok", tok)
             .filter(F.size("tok") > 0)
             .select("doc_id", y.alias("y"), zq("tok").alias("zq"))
             .withColumn("mu_q", mu)
             .select("doc_id", "y", "mu_q",
                     (F.col("mu_q").cast("double") / 1e6).alias("prob"),
                     pred.alias("pred"),
                     (pred == F.col("y")).cast("int").alias("hit")))
    return ev.run_to_memory(gated, output_mode="append")


# ---------------------------------------------------------------------------
# Heuristic rule battery served on the stream
# ---------------------------------------------------------------------------

def _rule_gate_oracle() -> str:
    from alertas_spark.operators.rulebattery import RB_BITS_SQL

    return RB_BITS_SQL


@declare("streaming_rule_gate", oracle=_rule_gate_oracle())
def streaming_rule_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/C4 rule battery SERVED ON THE STREAM — the cheapest gate
    in the streaming family: every rule is a pure JVM scan expression
    (integer-comparison thresholds, no model, no artifact, no state), so the
    tier pins only that the battery's regex/length algebra survives
    incremental planning.  Emits each arriving document's per-rule bits and
    the combined verdict; full replay equals the batch ``rule_bits`` relation
    row-for-row, and the oracle IS that relation's SQL.  Stateless append
    stream — no watermark, no state store."""
    from alertas_spark.operators.rulebattery import rule_bits

    docs = ev.read_documents_stream(spark, sf_dir)
    return ev.run_to_memory(rule_bits(docs), output_mode="append")


# ---------------------------------------------------------------------------
# CLIP alignment gate served on the stream
# ---------------------------------------------------------------------------

def _clip_gate_oracle() -> str:
    import alertas_spark.operators.clipgate as _cg  # runs its declares

    return REGISTRY[_cg.multimodal_clip_gate.__name__].oracle


@declare("streaming_clip_gate", oracle=_clip_gate_oracle())
def streaming_clip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAION/DataComp CLIP alignment gate SERVED ON THE STREAM — the
    multimodal member of the model-serving family (NB, bloom, LR, rule
    battery, now the alignment cut): arriving documents stream-static join
    their caption and image embeddings (both sides static — the embedding
    store does not move with the document stream), the cosine is the same
    scan-level sequential-fold expression as the batch tier, and the keep
    bit thresholds the UNROUNDED cosine at τ = CLIP_TAU.

    The builder passes the document STREAM into the batch tier's own
    ``clip_pairs``/``gate_projection`` (operators/clipgate.py), so full
    replay equals ``multimodal_clip_gate`` row-for-row BY CONSTRUCTION and
    the oracle IS that query's SQL.  Stateless append stream — no watermark,
    no state store; per micro-batch the static embedding sides join exactly
    as the batch plan does (broadcast at fixture scale, bucket-colocatable
    at deployment scale)."""
    from alertas_spark.operators.clipgate import clip_pairs, gate_projection

    docs = ev.read_documents_stream(spark, sf_dir).select("doc_id", "source")
    return ev.run_to_memory(gate_projection(clip_pairs(spark, sf_dir, docs)),
                            output_mode="append")


# ---------------------------------------------------------------------------
# Count-min sketch maintained on the stream
# ---------------------------------------------------------------------------

def _countmin_oracle() -> str:
    import alertas_spark.operators.countmin as _cm  # runs its declares

    return REGISTRY[_cm.heavyhitters_countmin.__name__].oracle


@declare("streaming_countmin_topk", oracle=_countmin_oracle())
def streaming_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained INCREMENTALLY on the stream — the
    canonical streaming-sketch deployment (Cormode & Muthukrishnan's own
    setting): each arriving document's token occurrences update the D×W
    cell table through a stateful complete-mode aggregate (state bounded by
    the SKETCH GEOMETRY, ≤ D·W rows, regardless of stream length), and the
    heavy-hitter report is then read off the replayed sketch against the
    static vocabulary with the batch tier's own query side
    (``_cm_est_from_cells`` / ``cm_topk_report``).

    Full replay makes the streamed cells equal the batch cells relation
    (per-occurrence count ≡ sum of per-token counts), so the report equals
    ``heavyhitters_countmin`` row-for-row BY CONSTRUCTION and the oracle IS
    that query's SQL."""
    from pyspark.sql import functions as F

    from alertas_spark.operators.countmin import (_cm_est_from_cells,
                                                  _cm_probe_rows,
                                                  _cm_token_counts,
                                                  cm_topk_report)

    docs = ev.read_documents_stream(spark, sf_dir)
    occ = (docs.filter(F.col("text").isNotNull())
           .select(F.explode(words()).alias("t")))
    cells = (_cm_probe_rows(occ)
             .groupBy("d", "pos")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cell")))
    replayed = ev.run_to_memory(cells, output_mode="complete",
                                shuffle_partitions=8)
    probes = _cm_probe_rows(_cm_token_counts(spark, sf_dir))
    return cm_topk_report(spark, _cm_est_from_cells(probes, replayed))

