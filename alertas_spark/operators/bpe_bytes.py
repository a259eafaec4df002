"""Byte-fallback BPE — the multilingual tier above operators/bpe.py.

The ASCII tier pre-tokenizes on ``[a-z0-9]+`` (the corpus convention every
green textops query shares), which means non-Latin text contributes ZERO
tokens to counts, packing budgets, and manifests.  Real tokenizers (GPT-2's
byte-level BPE, SentencePiece's byte fallback) solve this by making the atom
the UTF-8 BYTE: every string — any script, any symbol — decomposes into
bytes, so every document tokenizes.  This module is that tier:

* **pre-tokenization** — words are maximal non-whitespace runs of the RAW
  text (``textops.NONWS_RE``: an explicit character class, NOT ``\\S`` —
  Java and RE2 disagree on U+000B; see the textops whitespace note.  No
  lowercasing: case folding is locale-bearing outside ASCII and would be a
  cross-engine seam; byte fidelity is the tier's whole point).  Merges never cross word
  boundaries, same as the ASCII tier.
* **atoms** — each word's UTF-8 bytes, represented as UPPERCASE HEX PAIRS
  (``'é'`` → ``['C3', 'A9']``): Spark ``hex(encode(w,'UTF-8'))`` and DuckDB
  ``hex(encode(w))`` produce the identical uppercase hex string (verified:
  both engines store text as UTF-8 and uppercase their hex), and the hex
  alphabet ``[0-9A-F]`` cannot contain the ``|`` delimiter — so the ASCII
  tier's ENTIRE double-delimiter merge machinery (trainer loop, one-replace-
  per-rank application, unrolled DuckDB oracle) is reused verbatim with hex
  atoms substituted for characters (bpe.py's ``atoms``/``state_sql``/
  ``w0_body`` parameters).  A merged token is a hex string of even length:
  2·n hex chars ≡ n bytes.
* **training / application / oracle** — identical contracts to bpe.py
  (top-``VOCAB_TOP`` words by (freq DESC, word ASC); merge winner =
  (count DESC, lhs ASC, rhs ASC); one left-to-right replace per rank; the
  DuckDB oracle retrains from scratch in ``N_MERGES`` unrolled CTE steps).

**Multilingual corpus derivation.**  The driver fixture's ``documents.text``
is 100% ASCII (measured: 0/500 docs at sf0.01 with octet_length ≠ length)
even though it carries a ``lang`` column — and the fixture directory is
read-only.  To exercise the byte fallback on REAL multi-byte input on BOTH
engines, the tier derives a deterministic multilingual view: in each
non-``en`` document, a FIXED list of ten corpus words is suffixed with that
language's characteristic multi-byte letter (zh ``的`` U+7684 3-byte, es
``é``, de ``ü``, fr ``è`` 2-byte) — a pure ``CASE lang … replace-chain`` on
each engine over the fixture's closed 31-word vocabulary (none a substring
of another target, so plain ``replace`` is exact), making the derived
corpora byte-identical.  The lists are sized so the letters' byte pairs WIN
training ranks: on sf0.01 the trained table's ranks 11-15 are the five
multi-byte merges (``9A+84``, ``E7+9A84`` composing 的; ``C3+A9`` é;
``C3+A8`` è; ``C3+BC`` ü) — a green driver row therefore proves 2- and
3-byte sequences train, merge, and count identically cross-engine, not just
that they decompose.  On a production corpus the derivation disappears: the
operators take the text column as-is.

Scale shape: identical to the ASCII tier — training input is one corpus scan
+ one map-side-combined word-frequency agg + a top-``VOCAB_TOP``
TakeOrderedAndProject, the driver loop runs on ≤ VOCAB_TOP tiny strings
(cost ∝ vocabulary, not corpus); application runs once per DISTINCT word and
joins back by word.  The hex representation doubles the state-string length
per byte — a constant factor on vocabulary-sized data, not a corpus-sized
cost.

No reference counterpart (the reference engine has no text functions beyond
LIKE/slugify); LLM-pipeline extension tier.  Public sources: Sennrich,
Haddow & Birch ACL 2016 (BPE); Radford et al. 2019 (byte-level BPE atoms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.artifacts import persistent_artifact
from alertas_spark.operators.bpe import (CENSUS_TOP, _apply_ctes,
                                         _apply_merges_ranked, _census,
                                         _doc_token_counts, _rank_pairs,
                                         _top_words, _train_ctes,
                                         _train_merges_py, _with_ranks)
from alertas_spark.operators.memo import model_udf
from alertas_spark.operators.packing import PACK_BUDGET as _PACK_BUDGET
from alertas_spark.operators.packing import pack_ids
from alertas_spark.operators.textops import NONWS_RE
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: merge-table size — fixture-scale like the ASCII tier's (the unrolled
#: oracle stays readable); production values change constants, not shapes.
N_MERGES = 16
#: training vocabulary cutoff: top words by (freq DESC, word ASC).
VOCAB_TOP = 256
#: bump when trainer logic changes — part of the artifact version key.
CODE_VERSION = "bpeb-r14c"

#: per-lang characteristic multi-byte letter for the derived corpus view.
_LANG_SUFFIX = {"zh": "的", "es": "é", "de": "ü", "fr": "è"}

#: the ten fixture-vocabulary words each lang's docs suffix with its letter —
#: FIXED lists (sf-independent; the fixture generator's 31-word vocabulary is
#: closed), sized so each letter's byte pairs out-count the ASCII pair floor
#: and win training ranks (see module docstring).  No list word is a
#: substring of any other fixture word, so plain replace is exact.
_LANG_WORDS = {
    "zh": ["join", "small", "customer", "row", "column",
           "table", "key", "value", "group", "sort"],
    "es": ["slow", "agg", "hash", "merge", "vector",
           "order", "filter", "query", "line", "part"],
    "de": ["window", "stream", "batch", "data", "scan",
           "big", "dup", "fast", "spark", "the"],
    "fr": ["key", "row", "join", "order", "hash",
           "table", "value", "line", "sort", "part"],
}

#: DuckDB: initial delimited token state from a word's UTF-8 bytes as hex
#: pairs — '||' || 'C3||A9||' for 'é' (the regexp already leaves a trailing
#: '||').  Counterpart of bpe._STATE_CHAR_SQL.
_STATE_BYTES_SQL = (
    r"'||' || regexp_replace(hex(encode(word)), '(..)', '\1||', 'g')")

def _mtext_sql() -> str:
    """DuckDB CASE expression deriving the multilingual text column — a
    per-lang replace chain, applied in list order (identical to Spark's)."""
    arms = []
    for lang, words in _LANG_WORDS.items():
        expr = "text"
        for w in words:
            expr = f"replace({expr}, '{w}', '{w}{_LANG_SUFFIX[lang]}')"
        arms.append(f"WHEN '{lang}' THEN {expr}")
    return "CASE lang " + " ".join(arms) + " ELSE text END"


#: DuckDB CASE expression deriving the multilingual text column.
_MTEXT_SQL = _mtext_sql()

#: the derived-corpus CTE every byte-tier oracle opens with.
_MDOCS_CTE = f"""mdocs AS MATERIALIZED (
        SELECT doc_id, {_MTEXT_SQL} AS mtext
        FROM documents WHERE text IS NOT NULL)"""

_W0_BYTES = f"""
        SELECT t.w AS word, CAST(count(*) AS BIGINT) AS freq FROM mdocs,
        LATERAL unnest(regexp_extract_all(mtext, '{NONWS_RE}')) AS t(w)
        GROUP BY t.w ORDER BY count(*) DESC, t.w LIMIT {VOCAB_TOP}"""

_DOCW_BYTES = f"""
        SELECT doc_id, t.w AS word FROM mdocs,
        LATERAL unnest(regexp_extract_all(mtext, '{NONWS_RE}')) AS t(w)"""


def _hex_atoms(word: str) -> list[str]:
    """A word's UTF-8 bytes as uppercase hex pairs — the byte tier's atom
    function for the shared trainer/apply core (bpe._train_merges_py /
    bpe._apply_merges)."""
    h = word.encode("utf-8").hex().upper()
    return [h[i:i + 2] for i in range(0, len(h), 2)]


def _mtext_col():
    """Spark twin of ``_MTEXT_SQL`` — the derived multilingual text column
    (the same per-lang replace chain, in the same list order)."""
    expr = None
    for lang, words in _LANG_WORDS.items():
        val = F.col("text")
        for w in words:
            val = F.replace(val, F.lit(w), F.lit(w + _LANG_SUFFIX[lang]))
        cond = F.col("lang") == lang
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.col("text"))


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word): every ``\\S+`` word occurrence in the derived
    multilingual corpus — narrow explode, full text domain."""
    return (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.explode(F.regexp_extract_all(
                        _mtext_col(), F.lit(NONWS_RE), 0)).alias("word")))


def trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained byte-merge table (rank, lhs, rhs, freq) — lhs/rhs are hex
    strings — through the persistent artifact store, same lifecycle as the
    ASCII tier's ``bpe_merges``."""

    def build() -> DataFrame:
        merges = _train_merges_py(
            _top_words(_doc_words(spark, sf_dir), VOCAB_TOP),
            atoms=_hex_atoms, n_merges=N_MERGES)
        return spark.createDataFrame(
            merges, schema="rank int, lhs string, rhs string, freq bigint")

    return persistent_artifact(spark, sf_dir, "bpe_bytes_merges",
                               CODE_VERSION, "documents", build)


def _merges_list(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """Rank-ordered (lhs, rhs) hex pairs, driver-side — a bounded
    ≤ N_MERGES-row read of the artifact relation (broadcast/codegen tiers
    need the literals)."""
    return _rank_pairs(trained_merges(spark, sf_dir), N_MERGES,
                       "bpe_bytes_merges")


def _bytes_udf(spark: SparkSession, sf_dir: str, make, return_type: str):
    """A UDF over the session's ONE broadcast of the byte-merge model
    (``memo.model_udf``) — the token counts, the census and the roundtrip
    ship the table to executors once."""
    return model_udf(spark, ("bpe_bytes_merges", sf_dir),
                     lambda: _with_ranks(_merges_list(spark, sf_dir)),
                     make, return_type)


def ntok_udf(spark: SparkSession, sf_dir: str):
    """Byte-token count per DISTINCT word — the production apply tier."""
    return _bytes_udf(
        spark, sf_dir,
        lambda m: lambda w: len(_apply_merges_ranked(w, *m, atoms=_hex_atoms)),
        "bigint")


def toks_udf(spark: SparkSession, sf_dir: str):
    """Byte-token LIST per DISTINCT word — the array-valued sibling of
    :func:`ntok_udf`, shared by the census and the detokenize roundtrip."""
    return _bytes_udf(
        spark, sf_dir,
        lambda m: lambda w: _apply_merges_ranked(w, *m, atoms=_hex_atoms),
        "array<string>")


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

_TRAIN = _train_ctes(w0_body=_W0_BYTES, state_sql=_STATE_BYTES_SQL,
                     n_merges=N_MERGES)
_APPLY = _apply_ctes(docw_body=_DOCW_BYTES, state_sql=_STATE_BYTES_SQL,
                     n_merges=N_MERGES)

_TOKEN_COUNT_ORACLE = f"""
    WITH {_MDOCS_CTE},
    {_TRAIN},
    {_APPLY}
    SELECT docw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens
    FROM docw JOIN tokc USING (word)
    GROUP BY docw.doc_id
    """


@declare(
    "bpe_bytes_train_merges",
    oracle=f"""
    WITH {_MDOCS_CTE},
    {_TRAIN}
    SELECT rank, lhs, rhs, cnt AS freq FROM merges ORDER BY rank
    """,
)
def bpe_bytes_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained byte-merge table — (rank, lhs hex, rhs hex, freq),
    rank-ordered.  The oracle retrains from scratch in unrolled SQL over the
    same derived multilingual corpus, so a green row proves the full-domain
    word agg, the UTF-8 byte decomposition, and every merge round's winner
    match an independent engine exactly — including merges over the 2- and
    3-byte sequences the derivation injects."""
    return trained_merges(spark, sf_dir).orderBy("rank")


@declare("bpe_bytes_token_count", oracle=_TOKEN_COUNT_ORACLE)
def bpe_bytes_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document byte-BPE token counts — the full-domain sibling of
    ``bpe_token_count``: EVERY document with a non-whitespace character gets
    a count (``n_words`` counts ``\\S+`` runs; ``n_tokens`` the post-merge
    byte tokens), so non-Latin text budgets correctly in packing and
    manifests.  Production tier: merges broadcast into an Arrow-batched
    pandas UDF over DISTINCT words."""
    return _doc_token_counts(spark, sf_dir, ntok_udf(spark, sf_dir),
                             docw=_doc_words(spark, sf_dir))


@declare("bpe_bytes_token_count_builtin", oracle=_TOKEN_COUNT_ORACLE)
def bpe_bytes_token_count_builtin(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Same contract as ``bpe_bytes_token_count``, zero Python on the data
    path: state init is ``hex(encode(word))`` split into pairs by one
    ``regexp_replace``, then the merge chain unrolls into N_MERGES codegen'd
    ``replace`` calls — the byte twin of ``bpe_token_count_builtin``."""
    merges = _merges_list(spark, sf_dir)

    def ntok(word):
        s = F.concat(F.lit("||"),
                     F.regexp_replace(F.hex(F.encode(word, "UTF-8")),
                                      "(..)", "$1||"))
        for lhs, rhs in merges:
            s = F.replace(s, F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|"))
        # n tokens = (pipe count) / 2 - 1 (exact: the count is always even)
        pipes = F.length(s) - F.length(F.replace(s, F.lit("|"), F.lit("")))
        return (pipes / F.lit(2)).cast("bigint") - F.lit(1)

    return _doc_token_counts(spark, sf_dir, ntok,
                             docw=_doc_words(spark, sf_dir))


@declare(
    "bpe_bytes_vocab_census",
    oracle=f"""
    WITH {_MDOCS_CTE},
    {_TRAIN},
    {_APPLY},
    wf AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM docw GROUP BY word),
    wt AS MATERIALIZED (
        SELECT word, t.tok AS token
        FROM (SELECT word, list_filter(string_split(s, '||'), x -> x <> '')
                  AS tk FROM a{N_MERGES}),
        LATERAL unnest(tk) AS t(tok))
    SELECT wt.token,
           CAST(strlen(wt.token) // 2 AS INTEGER) AS n_bytes,
           CAST(sum(wf.freq) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT wt.word) AS BIGINT) AS n_words
    FROM wt JOIN wf USING (word)
    GROUP BY wt.token
    ORDER BY n_occurrences DESC, token
    LIMIT {CENSUS_TOP}
    """,
)
def bpe_bytes_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-subword vocabulary the trained tokenizer emits — top tokens
    by weighted occurrence, with each token's byte width (hex length / 2):
    the post-training inspection showing whether merges composed multi-BYTE
    tokens (a multilingual tokenizer's health check — a census stuck at
    n_bytes=1 means the fallback never engaged).  Tokens stay in their hex
    representation on both engines: decoding merged byte sequences back to
    text is lossy at non-character boundaries (a CJK char's 3 bytes may merge
    across its middle), and hex is the seam-free cross-engine encoding."""
    census = _census(_doc_words(spark, sf_dir), toks_udf(spark, sf_dir),
                     "token", CENSUS_TOP)
    return census.select("token",
                         (F.length("token") / 2).cast("int").alias("n_bytes"),
                         "n_occurrences", "n_words")


@declare(
    "pack_sequences_bpe_bytes",
    oracle=f"""
    WITH {_MDOCS_CTE},
    {_TRAIN},
    {_APPLY},
    dt AS MATERIALIZED (
        SELECT docw.doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
        FROM docw JOIN tokc USING (word) GROUP BY docw.doc_id),
    ds AS (SELECT d.doc_id, d.source, dt.n_tokens
           FROM documents d JOIN dt USING (doc_id))
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {_PACK_BUDGET} AS INTEGER) AS pack_id
    FROM ds
    """,
)
def pack_sequences_bpe_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on BYTE-BPE counts — the full-domain sibling of
    ``pack_sequences_bpe``, closing the original gap end-to-end: with the
    ASCII tier, a non-Latin document contributed ZERO tokens to its pack's
    budget (its pack absorbed it for free, silently overstuffing the batch);
    under the byte tier every document budgets by its real post-merge byte
    tokens.  Same scale shape as ``pack_sequences``: per-source shard
    windows — never one global cumsum — plus the vocabulary-sized
    tokenize-and-join-back.  Documents with no ``\\S+`` word (whitespace-only
    text) have no token count and are excluded (the bpe_bytes_token_count
    contract)."""
    per_doc = (_doc_token_counts(spark, sf_dir, ntok_udf(spark, sf_dir),
                                 docw=_doc_words(spark, sf_dir))
               .select("doc_id", "n_tokens"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pack_ids(docs.join(per_doc, "doc_id"))


@declare(
    "bpe_bytes_detokenize_roundtrip",
    oracle=f"""
    WITH {_MDOCS_CTE},
    {_TRAIN},
    {_APPLY}
    SELECT docw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           true AS roundtrip_ok
    FROM docw JOIN tokc USING (word)
    GROUP BY docw.doc_id
    """,
)
def bpe_bytes_detokenize_roundtrip(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Detokenization is byte-LOSSLESS — the property that makes byte-level
    BPE safe to train on (an ASCII tokenizer's unknown-token fallback loses
    text; byte fallback by construction cannot): every distinct word is
    tokenized in Python (Arrow UDF), then REASSEMBLED on the JVM —
    ``concat_ws`` over the hex tokens → ``unhex`` → UTF-8 decode — and
    compared against the original word; per-document ``roundtrip_ok`` is the
    conjunction over its words.  The Python↔JVM seam is the point: the UDF's
    merge application and Spark's hex/encode must agree byte-for-byte, the
    same cross-implementation shape as ``multimodal_png_roundtrip`` (whose
    oracle likewise recomputes geometry and DEMANDS roundtrip_ok on every
    row, so a lossy merge table fails the hash, not just a unit test).
    Scale shape: identical to ``bpe_bytes_token_count`` — tokenize once per
    DISTINCT word, join back, one per-doc agg."""
    toks = toks_udf(spark, sf_dir)
    docw = _doc_words(spark, sf_dir)
    per_word = (docw.select("word").distinct()
                .withColumn("tokens", toks(F.col("word")))
                .select("word",
                        F.size("tokens").cast("bigint").alias("ntok"),
                        (F.decode(F.unhex(F.concat_ws("", F.col("tokens"))),
                                  "UTF-8") == F.col("word")).alias("ok")))
    return (docw.join(per_word, "word")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("ntok").cast("bigint").alias("n_tokens"),
                 F.bool_and("ok").alias("roundtrip_ok")))


@declare(
    "bpe_bytes_fertility",
    oracle=f"""
    WITH {_MDOCS_CTE},
    {_TRAIN},
    {_APPLY},
    dl AS (SELECT doc_id, lang FROM documents)
    SELECT dl.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           ROUND(sum(ntok) * 1.0 / count(*), 6) AS fertility
    FROM docw JOIN tokc USING (word) JOIN dl USING (doc_id)
    GROUP BY dl.lang
    """,
)
def bpe_bytes_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — mean subword tokens per word, THE
    standard multilingual-tokenizer health metric (a tokenizer trained on
    English-dominant data shows inflated fertility on other scripts because
    their byte sequences never won merges; e.g. an un-merged 3-byte CJK char
    costs 3 tokens).  On the derived corpus this query makes the byte
    tier's trade visible: non-en languages carry the multi-byte marker
    words, so their fertility sits measurably above en's — exactly the
    signal a production pipeline watches to decide when to retrain the
    tokenizer with more of a language's data.

    Scale shape: the vocabulary-sized tokenize + join-back, one (doc→lang)
    dim join, one lang-keyed hash agg — every corpus-sized stage map-side
    combinable.  The single float division happens once per lang row,
    rounded at 6 decimals on both engines (the perplexity idiom)."""
    docw = _doc_words(spark, sf_dir)
    tokc = (docw.select("word").distinct()
            .withColumn("ntok", ntok_udf(spark, sf_dir)(F.col("word"))))
    dl = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (docw.join(tokc, "word").join(dl, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("ntok").cast("bigint").alias("n_tokens"),
                 F.round(F.sum("ntok") * 1.0 / F.count(F.lit(1)), 6)
                 .alias("fertility")))
