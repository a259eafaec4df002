"""Text-analysis operators for training-data pipelines: quality scoring, language-ID
heuristic, token counting, document fingerprinting.

Also the one home of the corpus text primitives every operator shares: the
whitespace classes (``WS_RE``, ``NONWS_RE``), the word (``WORD_RE``,
:func:`words`), the exact-dup key text (:func:`norm_text`) and the hashed word
counts (:func:`hashed_word_counts`).

All pure JVM expressions (regex + array higher-order functions) — no Python in the hot
path; at 100 TB these are embarrassingly parallel scan-projections.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---------------------------------------------------------------------------
# THE cross-engine whitespace set — Java's \s spelled out as an explicit
# class.  Java \s = [ \t\n\x0B\f\r]; RE2 (DuckDB) \s = [ \t\n\f\r] — U+000B
# (vertical tab) is the one-character symmetric difference, so any regex
# using \s or \S on BOTH engines diverges on text containing \x0B (word
# splits, whitespace normalization, the quality gate's punct class).  Every
# corpus-facing regex spells the set out via these constants instead; the
# escape sequences \t \n \x0B \f \r parse identically in Java regex and RE2.
# Pinned corpus-wide by the \x0B document in tests/test_fixture_adversarial.
# ---------------------------------------------------------------------------

#: the escaped character set, for embedding inside larger classes.
WS_CHARS = r"\t\n\x0B\f\r "
#: ≙ ``\s+`` (one-or-more whitespace), both engines.
WS_RE = rf"[{WS_CHARS}]+"
#: ≙ ``\S+`` (a maximal non-whitespace run), both engines.
NONWS_RE = rf"[^{WS_CHARS}]+"
#: a corpus word: a maximal ASCII-alphanumeric run of the lowercased text.
WORD_RE = "[a-z0-9]+"


def _lower(text: Column | str) -> Column:
    """``lower(text)`` with U+0130 (``İ``) folded to ``I`` first: Spark's
    ``lower`` uses full case mapping (``İ`` → i + U+0307) and DuckDB's the
    simple one (``İ`` → ``i``), so the fold makes both lower it to ``i``
    (the oracles keep the plain ``lower(text)``)."""
    return F.lower(F.translate(text, "\u0130", "I"))


def words(text: Column | str = "text") -> Column:
    """The corpus word list of ``text``: every ``WORD_RE`` run of
    ``lower(text)``, in order — the tokenization every word-level operator
    shares (oracles spell it ``regexp_extract_all(lower(text), '[a-z0-9]+')``)."""
    return F.regexp_extract_all(_lower(text), F.lit(WORD_RE), 0)


def norm_text(text: Column | str = "text") -> Column:
    """The exact-dup key text: ``lower``, ``trim`` (spaces), every whitespace
    run collapsed to one space — oracles spell it
    ``regexp_replace(trim(lower(text)), WS_RE, ' ', 'g')``."""
    return F.regexp_replace(F.trim(_lower(text)), WS_RE, " ")


def hashed_word_counts(docs: DataFrame, label: str,
                       n_buckets: int) -> DataFrame:
    """``(doc_id, <label>, b, db)``: each document's count ``db`` of words in
    bucket ``b = h60(word) mod n_buckets`` — the hashed-unigram feature map
    of DSIR and the NB classifier.  NULL-text documents have no rows."""
    return (docs.filter(F.col("text").isNotNull())
            .select("doc_id", label, F.explode(words()).alias("t"))
            .withColumn("b", h60("t", mod=n_buckets))
            .groupBy("doc_id", label, "b")
            .agg(F.count(F.lit(1)).alias("db")))


#: language marker words for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}

# ---------------------------------------------------------------------------
# THE doc-level quality gate (Gopher/C4-style thresholds) — single definition
# shared by text_quality, source_quality_gate, streaming_clean_corpus, and
# pipeline_corpus_to_batches on BOTH engines, so a threshold tweak can never
# leave one consumer (and its oracle, which drifts in lockstep) on old values.
# ---------------------------------------------------------------------------

GATE_MIN_TOKENS = 30
GATE_MAX_TOKENS = 2000
GATE_MAX_PUNCT_RATIO = 0.2

QUALITY_GATE_SQL = (
    f"len(regexp_extract_all(lower(text), '[a-z0-9]+'))"
    f" BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}"
    f" AND length(regexp_replace(text, '[a-zA-Z0-9{WS_CHARS}]', '', 'g'))"
    f" / GREATEST(length(text), 1) < {GATE_MAX_PUNCT_RATIO}"
)


def quality_gate_cond():
    """The gate as a Spark Column over a ``text`` column — the exact
    predicate ``QUALITY_GATE_SQL`` states for the DuckDB side."""
    toks = words()
    punct = F.length(F.regexp_replace(F.col("text"),
                                      rf"[a-zA-Z0-9{WS_CHARS}]", ""))
    return (F.size(toks).between(GATE_MIN_TOKENS, GATE_MAX_TOKENS)
            & (punct / F.greatest(F.length("text"), F.lit(1))
               < GATE_MAX_PUNCT_RATIO))


@declare(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                t -> t IN ({_STOP_SQL}))) AS INTEGER) AS n_stop,
           ROUND(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                                 t -> t IN ({_STOP_SQL})))
                 / GREATEST(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 6)
               AS stop_ratio,
           ROUND(length(regexp_replace(text, '[a-zA-Z0-9{WS_CHARS}]', '', 'g'))
                 / GREATEST(length(text), 1), 6) AS punct_ratio,
           CASE WHEN {QUALITY_GATE_SQL}
                THEN 1 ELSE 0 END AS quality_ok
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, stopword ratio, punctuation ratio, pass flag —
    the usual pre-training corpus filters (Gopher/C4-style heuristics)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    punct_len = F.length(F.regexp_replace(F.col("text"),
                                          rf"[a-zA-Z0-9{WS_CHARS}]", ""))
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    punct_ratio = F.round(punct_len / F.greatest(F.length("text"), F.lit(1)), 6)
    quality_ok = F.when(quality_gate_cond(), 1).otherwise(0)
    return docs.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_stop.cast("int").alias("n_stop"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality_ok.alias("quality_ok"),
    )


def _marker_count_duck(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (f"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
            f"t -> t IN ({markers})))")


@declare(
    "lang_guess",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_marker_count_duck('en')} AS c_en,
               {_marker_count_duck('es')} AS c_es,
               {_marker_count_duck('fr')} AS c_fr,
               {_marker_count_duck('de')} AS c_de
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de AND c_en > 0 THEN 'en'
                WHEN c_es >= c_fr AND c_es >= c_de AND c_es > 0 THEN 'es'
                WHEN c_fr >= c_de AND c_fr > 0 THEN 'fr'
                WHEN c_de > 0 THEN 'de'
                ELSE 'unknown' END AS guess,
           CAST(c_en + c_es + c_fr + c_de AS INTEGER) AS n_markers
    FROM scored
    """,
)
def lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: count language-marker stopwords, deterministic argmax
    ladder (ties resolve in fixed en>es>fr>de order)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)

    def marker_count(markers: tuple[str, ...]):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    counts = {lang: marker_count(words) for lang, words in LANG_MARKERS.items()}
    df = docs.select("doc_id", "lang", *[counts[lg].alias(f"c_{lg}") for lg in counts])
    c = {lg: F.col(f"c_{lg}") for lg in LANG_MARKERS}
    guess = (
        F.when((c["en"] >= c["es"]) & (c["en"] >= c["fr"]) & (c["en"] >= c["de"])
               & (c["en"] > 0), "en")
        .when((c["es"] >= c["fr"]) & (c["es"] >= c["de"]) & (c["es"] > 0), "es")
        .when((c["fr"] >= c["de"]) & (c["fr"] > 0), "fr")
        .when(c["de"] > 0, "de")
        .otherwise("unknown")
    )
    return df.select(
        "doc_id", "lang", guess.alias("guess"),
        (c["en"] + c["es"] + c["fr"] + c["de"]).cast("int").alias("n_markers"),
    )


@declare(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{NONWS_RE}')) AS INTEGER)
               AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
                                       '[a-z]+|[0-9]+|[^a-z0-9{WS_CHARS}]'))
                AS INTEGER) AS n_bpe_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation (letters /
    digits / single punctuation) — the standard cheap token-budget estimator."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(NONWS_RE), 0))
        .cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(rf"[a-z]+|[0-9]+|[^a-z0-9{WS_CHARS}]"), 0))
        .cast("int").alias("n_bpe_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@declare(
    "doc_fingerprint",
    oracle=f"""
    WITH tokd AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(lower(text)), '{WS_RE}') AS tok
        FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g')) AS content_md5,
           list_min(CASE WHEN len(tok) >= 5 THEN
               list_transform(generate_series(1, len(tok) - 4),
                   i -> md5(tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' '
                            || tok[i+3] || ' ' || tok[i+4]))
               ELSE [md5(regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g'))] END)
               AS rolling_min_hash
    FROM tokd
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content md5 + a rolling-window (5-gram) min-hash
    — the winnowing-style signature used for fast containment checks."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text()
    # whitespace runs are single spaces in the key text, so its space split
    # is the oracle's WS_RE split of trim(lower(text))
    out = (
        docs.withColumn("tok", F.split(norm, " "))
        .withColumn("content_md5", F.md5(norm))
        .withColumn(
            "rolling_min_hash",
            F.expr("""
                array_min(CASE WHEN size(tok) >= 5 THEN
                    transform(sequence(0, size(tok) - 5),
                        i -> md5(concat_ws(' ', tok[i], tok[i+1], tok[i+2],
                                           tok[i+3], tok[i+4])))
                ELSE array(content_md5) END)
            """),
        )
    )
    return out.select("doc_id", "content_md5", "rolling_min_hash")


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram collision against an eval set)
# ---------------------------------------------------------------------------

#: overlap n-gram width (word-level).  GPT-3/PaLM-style decontamination uses 8-13;
#: 5 is proportionate to the short fixture documents (raise with document length)
DECON_N = 5
#: stand-in eval set: every 11th doc plays the benchmark (in production this side
#: is the actual benchmark corpus — a few MB, always broadcastable)
DECON_BENCH_MOD = 11

_NGRAM_SPARK = f"""
    CASE WHEN size(tok) >= {DECON_N} THEN
        array_distinct(transform(sequence(0, size(tok) - {DECON_N}),
            i -> concat_ws(' ', {", ".join(f"tok[i+{j}]" for j in range(DECON_N))})))
    ELSE array() END
"""
_NGRAM_DUCK = f"""
    CASE WHEN len(tok) >= {DECON_N} THEN
        list_distinct(list_transform(generate_series(1, len(tok) - {DECON_N - 1}),
            i -> {" || ' ' || ".join(f"tok[i+{j}]" for j in range(DECON_N))}))
    ELSE [] END
"""


@declare(
    "decontaminate_overlap",
    oracle=f"""
    WITH tokd AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), grams AS (
        SELECT doc_id, unnest({_NGRAM_DUCK}) AS g FROM tokd
    ), bench AS (SELECT doc_id, g FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0),
    train AS (SELECT doc_id, g FROM grams WHERE doc_id % {DECON_BENCH_MOD} != 0)
    SELECT t.doc_id,
           COUNT(DISTINCT b.doc_id) AS n_benchmark_docs,
           COUNT(DISTINCT t.g) AS n_shared_ngrams
    FROM train t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word-{DECON_N}-gram
    with the eval set (GPT-3 appendix-C style).  The benchmark side is tiny by nature,
    so its exploded n-grams BROADCAST — the training side streams through a broadcast
    hash join with zero shuffle of the 100 TB side; the only shuffle is the final
    per-doc aggregation of hits."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.withColumn("tok", words())
        .withColumn("g", F.explode(F.expr(_NGRAM_SPARK)))
        .select("doc_id", "g")
    )
    bench = grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0) \
        .select(F.col("doc_id").alias("bench_doc_id"), F.col("g").alias("bg"))
    train = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), F.col("g") == F.col("bg"))
        .groupBy("doc_id")
        .agg(F.countDistinct("bench_doc_id").alias("n_benchmark_docs"),
             F.countDistinct("g").alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# PII / pattern redaction
# ---------------------------------------------------------------------------

#: redaction patterns — RE2-safe (no lookaround) so both engines compile them
_PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("longnum", r"\b[0-9]{7,}\b", "<NUM>"),
)


@declare(
    "pii_scrub",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INTEGER)
               AS n_email,
           CAST(len(regexp_extract_all(text,
               '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INTEGER) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\\b[0-9]{7,}\\b')) AS INTEGER)
               AS n_longnum,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
               '\\b[0-9]{7,}\\b', '<NUM>', 'g')) AS redacted_md5
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and replace email / SSN-shaped / long-number patterns.
    Pure scan-projection (JVM regex, no shuffle); the md5 of the redacted text pins
    the full transform cross-engine without materializing documents in the result."""
    docs = load_table(spark, sf_dir, "documents")
    red = F.col("text")
    counts = []
    for name, pat, repl in _PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
                      .cast("int").alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, repl)
    return docs.select("doc_id", *counts, F.md5(red).alias("redacted_md5"))


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style quality signal)
# ---------------------------------------------------------------------------


@declare(
    "repetition_score",
    oracle="""
    WITH tokd AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), grams AS (
        SELECT doc_id,
               CASE WHEN len(tok) >= 2 THEN
                   list_transform(generate_series(1, len(tok) - 1),
                                  i -> tok[i] || ' ' || tok[i+1]) ELSE [] END AS g2,
               CASE WHEN len(tok) >= 3 THEN
                   list_transform(generate_series(1, len(tok) - 2),
                                  i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
               ELSE [] END AS g3
        FROM tokd
    )
    SELECT doc_id,
           ROUND((len(g2) - len(list_distinct(g2)))
                 / GREATEST(len(g2), 1), 6) AS dup2_ratio,
           ROUND((len(g3) - len(list_distinct(g3)))
                 / GREATEST(len(g3), 1), 6) AS dup3_ratio,
           CASE WHEN (len(g3) - len(list_distinct(g3)))
                     / GREATEST(len(g3), 1) > 0.2 THEN 1 ELSE 0 END AS repetitive
    FROM grams
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): fraction of duplicate word 2-/3-grams
    per document; heavily repetitive documents (>20% dup 3-grams) are flagged.  Pure
    array expressions — scan-projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    out = (
        docs.withColumn("tok", words())
        .withColumn("g2", F.expr("""
            CASE WHEN size(tok) >= 2 THEN transform(sequence(0, size(tok) - 2),
                i -> concat_ws(' ', tok[i], tok[i+1])) ELSE array() END"""))
        .withColumn("g3", F.expr("""
            CASE WHEN size(tok) >= 3 THEN transform(sequence(0, size(tok) - 3),
                i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])) ELSE array() END"""))
    )
    dup2 = (F.size("g2") - F.size(F.array_distinct("g2"))) \
        / F.greatest(F.size("g2"), F.lit(1))
    dup3 = (F.size("g3") - F.size(F.array_distinct("g3"))) \
        / F.greatest(F.size("g3"), F.lit(1))
    return out.select(
        "doc_id",
        F.round(dup2, 6).alias("dup2_ratio"),
        F.round(dup3, 6).alias("dup3_ratio"),
        F.when(dup3 > 0.2, 1).otherwise(0).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (corpus-statistics join-back)
# ---------------------------------------------------------------------------

TFIDF_TOP_N = 3


@declare(
    "tfidf_top_terms",
    oracle=f"""
    WITH tokd AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), terms AS (
        SELECT doc_id, unnest(tok) AS term FROM tokd
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.term = df.term
    ), ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP_N}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_N} TF-IDF terms per document — the corpus-statistics join-back
    pattern: per-term document frequency aggregated over the whole corpus, joined
    back to per-doc term counts, scored, window top-n.  The df↔tf join is a plain
    equi join on ``term``: at web scale the vocabulary (every token, typo and
    identifier in the corpus) is billions of rows, so it must never be broadcast —
    AQE is free to pick a broadcast at small scale and a shuffle join at large.
    Only the single-row n_docs scalar rides in via the crossJoin-broadcast idiom
    (J7)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.withColumn("tok", words())
        .select("doc_id", F.explode("tok").alias("term"))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


@declare(
    "bm25_top_terms",
    oracle=f"""
    WITH tokd AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), terms AS (
        SELECT doc_id, unnest(tok) AS term FROM tokd
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               ROUND(CAST(CAST(SUM(CAST(dl AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE)
                     / COUNT(*), 6) AS avgdl
        FROM dl
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                     * tf.tf * ({BM25_K1} + 1.0)
                     / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * dl.dl / s.avgdl)), 6) AS bm25
        FROM tf
        JOIN df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
    ), ranked AS (
        SELECT doc_id, term, bm25,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY bm25 DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, bm25, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP_N}
    """,
)
def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_N} BM25 terms per document (Robertson/Spärck Jones; the
    default ranking function of every production search stack, k1={BM25_K1}
    b={BM25_B}) — TF-IDF's join-back pattern plus the document-length
    normalization that makes term frequency saturate.

    Corpus statistics: df per term, dl per doc, and a 1-row (n_docs, avgdl)
    global aggregate riding in via the crossJoin-broadcast idiom (J7); avgdl
    uses decimal accumulation so the normalization denominator is
    partition-order independent and oracle-exact.  The df↔tf join stays an
    equi join on ``term`` (vocabulary-sized — never broadcast by hint; AQE
    decides at runtime)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.withColumn("tok", words())
        .select("doc_id", F.explode("tok").alias("term"))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(F.col("dl").cast("decimal(29,6)")).cast("double")
                / F.count("*"), 6).alias("avgdl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0)
    norm = (F.col("tf") + BM25_K1 * (1.0 - BM25_B
                                     + BM25_B * F.col("dl") / F.col("avgdl")))
    scored = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25",
                    F.round(idf * F.col("tf") * (BM25_K1 + 1.0) / norm, 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "term", "bm25", F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Vocabulary heavy hitters — corpus-global token frequencies
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 50


@declare(
    "vocab_top_tokens",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents
    )
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM t GROUP BY token
    ORDER BY tf DESC, token
    LIMIT {VOCAB_TOP_K}
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global token heavy hitters: term frequency + document frequency for
    the top-{VOCAB_TOP_K} tokens — the first pass of tokenizer-vocabulary induction
    and the stopword/boilerplate census of corpus QA.

    Scale shape: explode is scan-side; the groupBy(token) aggregates with map-side
    partial combine, so the shuffle carries one row per (partition, distinct token),
    not one per token occurrence; the top-k is a TakeOrdered over the aggregate
    (per-partition heaps, no global sort shuffle).  Ties at the cut are impossible:
    the ordering key (tf, token) is unique per row."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = (
        docs.withColumn("tok", words())
        .select("doc_id", F.explode("tok").alias("token"))
    )
    return (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(VOCAB_TOP_K)
    )


# ---------------------------------------------------------------------------
# Source-level quality gating (CCNet-style group gate)
# ---------------------------------------------------------------------------

SRC_PASS_THRESHOLD = 0.75  # keep sources whose doc-level pass rate reaches this

#: doc-level pass flag — the text_quality `quality_ok` contract
_QOK_DUCK = f"CASE WHEN {QUALITY_GATE_SQL} THEN 1 ELSE 0 END"


@declare(
    "source_quality_gate",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source, {_QOK_DUCK} AS quality_ok FROM documents
    ),
    s AS (
        SELECT source, COUNT(*) AS n_src_docs, SUM(quality_ok) AS n_ok
        FROM q GROUP BY source
    )
    SELECT q.doc_id, q.source,
           CAST(s.n_src_docs AS INTEGER) AS n_src_docs,
           ROUND(CAST(s.n_ok AS DOUBLE) / s.n_src_docs, 6) AS src_pass_rate
    FROM q JOIN s USING (source)
    WHERE q.quality_ok = 1
      AND CAST(s.n_ok AS DOUBLE) / s.n_src_docs >= {SRC_PASS_THRESHOLD}
    """,
)
def source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level quality gating (the CCNet/RefinedWeb *domain* filter): a
    document survives only if it passes the doc-level quality flag AND its
    whole source's pass rate reaches {SRC_PASS_THRESHOLD} — low-quality
    *origins* are dropped wholesale, catching spam domains whose individual
    documents squeak past doc-level heuristics.

    Scale shape: one aggregation keyed by source (map-side combine; source
    cardinality ≪ corpus), then the tiny per-source table joins back by
    broadcast — the corpus is scanned once and never shuffled.  The pass rate
    is an exact-integer ratio (SUM of 0/1 over COUNT), so the threshold
    comparison is deterministic across engines and partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    qok = F.when(quality_gate_cond(), 1).otherwise(0)
    q = docs.select("doc_id", "source", qok.alias("quality_ok"))
    s = (q.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_src_docs"),
              F.sum("quality_ok").alias("n_ok"))
         .withColumn("src_pass_rate",
                     F.col("n_ok").cast("double") / F.col("n_src_docs"))
         .filter(F.col("src_pass_rate") >= SRC_PASS_THRESHOLD))
    return (
        q.filter(F.col("quality_ok") == 1)
        .join(F.broadcast(s), "source")
        .select("doc_id", "source", F.col("n_src_docs").cast("int").alias("n_src_docs"),
                F.round("src_pass_rate", 6).alias("src_pass_rate"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

#: bump when the LM count-table derivations change — artifact version key.
LM_CODE_VERSION = "lm-r14a"


def _lm_unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus unigram LM table (t, c) through the persistent artifact
    store — the same train-once lifecycle as the BPE merge table and the
    PQ codebooks: the counts are a deterministic function of the corpus
    snapshot, so later sessions score documents against the persisted
    relation instead of re-aggregating the corpus."""
    from alertas_spark.operators.artifacts import persistent_artifact

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # lazy: persistent_artifact owns materialization (checkpoint in the
        # memo-only branch, parquet write in the store branch)
        return (docs.filter(F.col("text").isNotNull())
                .select(F.explode(words()).alias("t"))
                .groupBy("t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))

    return persistent_artifact(spark, sf_dir, "lm_unigram",
                               LM_CODE_VERSION, "documents", build)


#: the unigram scorer's CTE chain ending in ``scored(doc_id, n_tokens,
#: cross_entropy_nats)`` — shared by the perplexity query and the CCNet
#: bucket query so the two oracles cannot drift.
_UNIGRAM_SCORED_CTES = """tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
        FROM documents WHERE text IS NOT NULL
    ), d AS (
        SELECT doc_id, t, COUNT(*) AS dc FROM tok GROUP BY doc_id, t
    ), ct AS (
        SELECT t, SUM(dc) AS c FROM d GROUP BY t
    ), g AS (
        SELECT CAST(ROUND(LN(SUM(c)) * 1e9) AS BIGINT) AS qln_n FROM ct
    ), scored AS (
    SELECT d.doc_id,
           CAST(SUM(d.dc) AS BIGINT) AS n_tokens,
           ROUND(CAST(CAST(SUM(CAST(d.dc AS HUGEINT)
                       * (g.qln_n - CAST(ROUND(LN(ct.c) * 1e9) AS BIGINT)))
                  AS VARCHAR) AS DOUBLE) / SUM(d.dc) / 1e9, 6)
               AS cross_entropy_nats
    FROM d JOIN ct USING (t) CROSS JOIN g
    GROUP BY d.doc_id
    )"""


@declare(
    "perplexity_unigram",
    oracle=f"""
    WITH {_UNIGRAM_SCORED_CTES}
    SELECT doc_id, n_tokens, cross_entropy_nats FROM scored
    """,
)
def perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained unigram LM — the
    perplexity-filter stage of CCNet-style corpus cleaning (there KenLM
    5-gram; the unigram tier is the same pipeline shape minus the model
    download, and the filter semantics — flag documents whose token
    distribution is unlike the corpus — are identical).  For document d with
    per-token counts dᵢ over corpus counts cᵢ and corpus size N:
    H(d) = Σ dᵢ·(ln N − ln cᵢ) / Σ dᵢ — reported in nats; perplexity is the
    monotone transform e^H, not emitted because a cross-engine ``exp`` is a
    libm seam while the quantized-ln numerator Σ dᵢ·(Q(ln N) − Q(ln cᵢ)) is
    exact-integer arithmetic under any partitioning (the
    ``event_type_entropy_per_user`` idiom).

    Scale shape: two map-side-combined hash aggs — (doc, token) then token —
    a vocabulary-sized join back (AQE-broadcastable on natural corpora), a
    1-row global crossJoin broadcast (no driver collect), and one final
    per-doc agg.  Zero-token documents have no rows and are excluded (no
    distribution to score; documented domain contract).  The LM table ``ct``
    rides the persistent artifact store (:func:`_lm_unigram_counts`): with a
    store configured, scoring sessions read the vocabulary-sized parquet
    relation instead of re-aggregating the corpus — the same cross-session
    win as the trained tokenizer (bench's queries_warm_persistent tier)."""
    return _unigram_scores(spark, sf_dir)


def _unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, cross_entropy_nats) — the unigram scorer's body,
    shared with :func:`ccnet_perplexity_buckets` (one Spark copy, mirroring
    the shared ``_UNIGRAM_SCORED_CTES`` on the oracle side)."""
    docs = load_table(spark, sf_dir, "documents")
    d = (docs.filter(F.col("text").isNotNull())
         .select("doc_id",
                 F.explode(words()).alias("t"))
         .groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("dc")))
    ct = _lm_unigram_counts(spark, sf_dir)
    g = ct.agg(F.round(F.log(F.sum("c")) * 1e9).cast("bigint").alias("qln_n"))
    qc = F.round(F.log("c") * 1e9).cast("bigint")
    return (d.join(ct, "t").crossJoin(F.broadcast(g))
            .withColumn("term", F.col("dc").cast("decimal(38,0)")
                        * (F.col("qln_n") - qc))
            .groupBy("doc_id")
            .agg(F.sum("dc").cast("bigint").alias("n_tokens"),
                 F.round(F.sum("term").cast("double")
                         / F.sum("dc") / 1e9, 6).alias("cross_entropy_nats")))


@declare(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_UNIGRAM_SCORED_CTES},
    lb AS (
        SELECT s.doc_id, dd.lang, s.cross_entropy_nats,
               NTILE(3) OVER (PARTITION BY dd.lang
                              ORDER BY s.cross_entropy_nats, s.doc_id) AS nt
        FROM scored s JOIN documents dd USING (doc_id)
    )
    SELECT doc_id, lang, cross_entropy_nats,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket
    FROM lb
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al., LREC 2020): within each
    language, documents are ranked by LM cross-entropy and cut into terciles
    — ``head`` (most in-domain) feeds training first, ``tail`` is the
    down-weighted residue.  This is the DECISION stage the perplexity scores
    exist for; per-lang partitioning matters because entropy scales are not
    comparable across languages.

    Determinism: the tercile cut is NTILE(3) over the total order
    (cross_entropy_nats, doc_id) — both engines place remainder rows in the
    earliest buckets, and the rounded-entropy + id tiebreak leaves no
    ambiguity.  Scale shape: the scorer's aggs plus ONE per-lang window —
    partitions are language-sized; a production corpus shards the window by
    (lang, hash-bucket) exactly like ``pack_sequences``' per-source windows
    if a single language outgrows an executor (documented seam, not needed
    at fixture scale)."""
    from pyspark.sql import Window

    s = _unigram_scores(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("cross_entropy_nats", "doc_id")
    return (s.join(docs, "doc_id")
            .withColumn("nt", F.ntile(3).over(w))
            .select("doc_id", "lang", "cross_entropy_nats",
                    F.when(F.col("nt") == 1, "head")
                    .when(F.col("nt") == 2, "middle")
                    .otherwise("tail").alias("bucket")))


# ---------------------------------------------------------------------------
# Bigram-LM perplexity with stupid backoff (held-out reference split)
# ---------------------------------------------------------------------------

#: every PPL_REF_MOD-th document is HELD OUT of the reference LM and scored
#: against it — so the backoff path is genuinely exercised (a self-trained
#: corpus never backs off: every bigram it contains is in-model).
PPL_REF_MOD = 10
#: Q(ln(1/alpha)) for stupid-backoff alpha = 0.4, quantized at 1e9 like every
#: ln in this module — a BAKED integer literal on both engines (computing it
#: per-engine would be a libm seam): round(ln(2.5) * 1e9).
PPL_QLN_BACKOFF = 916290732


def _ppl_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, t): the corpus position stream — narrow posexplode."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.posexplode(words())
                    .alias("pos", "t")))


def _ppl_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, t, prev): the position stream with its LAG context —
    doc-keyed window, partitions bounded by document length."""
    from pyspark.sql import Window

    return _ppl_tok(spark, sf_dir).withColumn(
        "prev", F.lag("t").over(Window.partitionBy("doc_id").orderBy("pos")))


def _lm_bigram_tables(spark: SparkSession,
                      sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The reference-split LM count tables — unigram (t, cu) and bigram
    (prev, t, cb) — through the persistent artifact store, the same
    train-once lifecycle as :func:`_lm_unigram_counts`: both are
    deterministic functions of the corpus snapshot and
    vocabulary-/bigram-vocabulary-sized, so scoring sessions load two small
    parquet relations instead of re-running the corpus explode + window."""
    from alertas_spark.operators.artifacts import persistent_artifact

    ref = F.col("doc_id") % PPL_REF_MOD != 0

    # lazy on both: persistent_artifact owns materialization — see
    # _lm_unigram_counts
    def build_du() -> DataFrame:
        return (_ppl_tok(spark, sf_dir).filter(ref).groupBy("t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cu")))

    def build_db() -> DataFrame:
        return (_ppl_seq(spark, sf_dir)
                .filter(ref & F.col("prev").isNotNull())
                .groupBy("prev", "t")
                .agg(F.count(F.lit(1)).cast("bigint").alias("cb")))

    du = persistent_artifact(spark, sf_dir, "lm_bigram_uni",
                             LM_CODE_VERSION, "documents", build_du)
    db = persistent_artifact(spark, sf_dir, "lm_bigram_bi",
                             LM_CODE_VERSION, "documents", build_db)
    return du, db


@declare(
    "perplexity_bigram_backoff",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, tk[CAST(p.i AS INT)] AS t, CAST(p.i AS BIGINT) AS pos
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
              FROM documents WHERE text IS NOT NULL)
        CROSS JOIN LATERAL unnest(range(1, len(tk) + 1)) AS p(i)
    ), seq AS (
        SELECT doc_id, t,
               LAG(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM tok
    ), du AS (  -- reference unigram counts
        SELECT t, CAST(COUNT(*) AS BIGINT) AS cu FROM tok
        WHERE doc_id % {PPL_REF_MOD} != 0 GROUP BY t
    ), db AS (  -- reference bigram counts
        SELECT prev, t, CAST(COUNT(*) AS BIGINT) AS cb FROM seq
        WHERE prev IS NOT NULL AND doc_id % {PPL_REF_MOD} != 0
        GROUP BY prev, t
    ), g AS (
        SELECT CAST(ROUND(LN(SUM(cu)) * 1e9) AS BIGINT) AS qln_n FROM du
    ), terms AS (
        SELECT s.doc_id,
               CASE
                 WHEN s.prev IS NULL THEN
                   g.qln_n - CAST(ROUND(LN(GREATEST(COALESCE(u.cu, 0), 1))
                                  * 1e9) AS BIGINT)
                 WHEN b.cb IS NOT NULL THEN
                   CAST(ROUND(LN(GREATEST(COALESCE(up.cu, 0), 1)) * 1e9)
                        AS BIGINT)
                   - CAST(ROUND(LN(b.cb) * 1e9) AS BIGINT)
                 ELSE
                   {PPL_QLN_BACKOFF} + g.qln_n
                   - CAST(ROUND(LN(GREATEST(COALESCE(u.cu, 0), 1)) * 1e9)
                          AS BIGINT)
               END AS qterm,
               CASE WHEN s.prev IS NOT NULL AND b.cb IS NULL
                    THEN 1 ELSE 0 END AS backoff
        FROM seq s
        LEFT JOIN du u  ON u.t = s.t
        LEFT JOIN du up ON up.t = s.prev
        LEFT JOIN db b  ON b.prev = s.prev AND b.t = s.t
        CROSS JOIN g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(backoff) AS BIGINT) AS n_backoff,
           ROUND(CAST(CAST(SUM(CAST(qterm AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) / 1e9, 6) AS cross_entropy_nats
    FROM terms GROUP BY doc_id
    """,
)
def perplexity_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a bigram LM with stupid backoff
    (Brants et al., EMNLP 2007) trained on a held-out REFERENCE split — the
    next tier above ``perplexity_unigram`` and the same filter shape CCNet
    runs with KenLM: train the LM on in-domain reference text, score the
    whole corpus, flag outliers.  Every {PPL_REF_MOD}-th document is held out
    of the reference counts, so held-out documents genuinely hit the backoff
    path (a corpus scored against itself never backs off) — ``n_backoff``
    reports how often.

    Per position: first token scores ln N − ln ĉ(t); a reference bigram
    scores ln ĉ(prev) − ln c(prev,t); an unseen bigram backs off to
    ln(1/α) + ln N − ln ĉ(t), α = 0.4 — with ĉ = max(count, 1) as the
    unseen-token floor.  Every ln is quantized to a 1e9 fixed-point bigint
    before any arithmetic (the ``perplexity_unigram`` /
    ``event_type_entropy_per_user`` idiom), the backoff constant is a baked
    integer literal, and the per-doc sum is integer — cross-engine exact
    under any partitioning; one float division at the very end.

    Scale shape: the position stream is a narrow posexplode; ``prev`` is a
    doc-keyed LAG window (partitions bounded by document length); reference
    unigram/bigram tables are map-side-combined hash aggs joined back by
    token keys (vocabulary/bigram-vocabulary sized — AQE-broadcastable on
    natural corpora, shuffle joins at web scale); the global N is a 1-row
    broadcast crossJoin, no driver collect.  Since r14 the du/db count
    tables ride the persistent artifact store (:func:`_lm_bigram_tables`):
    with a store configured, scoring sessions read two small parquet
    relations and the corpus explode + window runs ONLY for the scoring
    stream ``seq`` — training never repeats across sessions.  (The r12
    measured no-cache decision for ``seq`` stands: it now feeds one
    consumer, so there is nothing left to share.)"""
    seq = _ppl_seq(spark, sf_dir)
    du, db = _lm_bigram_tables(spark, sf_dir)
    g = du.agg(F.round(F.log(F.sum("cu")) * 1e9).cast("bigint").alias("qln_n"))

    def qln(c):
        return F.round(F.log(F.greatest(F.coalesce(c, F.lit(0)), F.lit(1)))
                       * 1e9).cast("bigint")

    joined = (seq
              .join(du.select(F.col("t"), F.col("cu")), "t", "left")
              .join(du.select(F.col("t").alias("prev"),
                              F.col("cu").alias("cup")), "prev", "left")
              .join(db, ["prev", "t"], "left")
              .crossJoin(F.broadcast(g)))
    qterm = (F.when(F.col("prev").isNull(),
                    F.col("qln_n") - qln(F.col("cu")))
             .when(F.col("cb").isNotNull(),
                   qln(F.col("cup")) - F.round(F.log("cb") * 1e9).cast("bigint"))
             .otherwise(F.lit(PPL_QLN_BACKOFF) + F.col("qln_n")
                        - qln(F.col("cu"))))
    backoff = F.when(F.col("prev").isNotNull() & F.col("cb").isNull(), 1) \
        .otherwise(0)
    return (joined
            .select("doc_id", qterm.cast("decimal(38,0)").alias("qterm"),
                    backoff.alias("backoff"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("backoff").cast("bigint").alias("n_backoff"),
                 F.round(F.sum("qterm").cast("double")
                         / F.count(F.lit(1)) / 1e9, 6)
                 .alias("cross_entropy_nats")))
