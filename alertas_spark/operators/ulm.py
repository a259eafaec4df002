"""Unigram-LM (SentencePiece-style) subword tokenizer — trainer + Viterbi apply.

The BPE family's published sibling (Kudo 2018): instead of greedy merges, fit
a UNIGRAM language model over a candidate piece vocabulary and segment each
word with the Viterbi-optimal piece sequence.  This module ships the
deterministic hard-EM variant over the SAME word-frequency relation as the
BPE trainer (bpe.py):

  1. **Seed** — candidate pieces are every substring of length 1..{PMAX} of
     the top-{WORDS} training words; the vocabulary keeps ALL single
     characters (segmentability floor) plus the top-{SEED} multi-character
     substrings by frequency-weighted occurrence count.
  2. **Hard-EM ×{ITERS}** — segment every training word with the current
     model's Viterbi path and re-estimate piece counts from the chosen
     pieces (frequency-weighted); vocabulary is FIXED (unused pieces keep
     count 0 through add-one smoothing).
  3. **Apply** — tokenize every DISTINCT corpus word under the final model
     (the vocabulary-not-corpus shape every BPE consumer uses) and join
     token counts back to the document stream.

Determinism / cross-engine exactness
------------------------------------
Piece scores are quantized-ln integers, ``Q(c + 1) − Q(N + |V| + 1)``, so a
segmentation's total score is an exact integer.  Viterbi maximizes the
lexicographic tuple **(score, −n_pieces, last-piece length)** — encoded into
ONE integer per DP cell, ``enc = (d·64 − p)·8 + (l−1)``, so each unrolled DP
position is a single MAX aggregation and the optimum (and therefore the
backtraced path) is UNIQUE: equal ``enc`` forces equal last-piece length and
therefore the same predecessor.  Field decodes use the floor-division
identities ``dval = ⌊(enc+4)/8⌋`` and ``n_pieces = 64·⌈…⌉ − d`` (exact in
doubles at these magnitudes, identical in Python and SQL).  The oracle
RETRAINS the whole trajectory in unrolled materialized CTEs — per position a
MAX over ≤{PMAX} candidate transitions, per phase a 12-step deterministic
backtrace — the ``bpe_train_merges`` retraining-oracle precedent applied to
dynamic programming.

Words longer than {LMAX} characters take the per-character fallback on BOTH
engines (a documented contract, not a seam; the corpus maximum is 8) and are
excluded from the trainer cutoff.

Scale shape: the trainer collects one bounded top-{WORDS} word-frequency
relation (the bpe.py trainer-scalar pattern) and the trained vocabulary
(≤ {SEED} + alphabet rows) rides the artifact store; apply is an
Arrow-batched pandas UDF over DISTINCT words with the model broadcast — cost
∝ vocabulary, not corpus, and the per-document join-back is the only wide
operation.

Reference parity: extension operator (no reference counterpart); first-class
LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.artifacts import bounded_rows, persistent_artifact
from alertas_spark.operators.bpe import (ALPHABET, _apply_ctes, _census,
                                         _doc_token_counts, _doc_words,
                                         _top_words, _train_ctes, ntok_udf)
from alertas_spark.operators.logreg import _rnd_half_away
from alertas_spark.operators.memo import model_udf
from alertas_spark.operators.packing import PACK_BUDGET, pack_ids
from alertas_spark.operators.textops import WORD_RE
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: trainer cutoff: top-N words by (freq DESC, word) — the bpe.VOCAB_TOP idiom.
ULM_WORDS = 256

#: multi-character seed pieces kept (plus every single character).
ULM_SEED = 48

#: maximum piece length.
ULM_PMAX = 4

#: Viterbi DP horizon — longer words take the char fallback (corpus max: 8).
ULM_LMAX = 12

#: hard-EM re-estimation rounds.
ULM_ITERS = 2

#: bump when the trainer derivation changes — artifact version key.
ULM_CODE_VERSION = "ulm-r16a"


# ---------------------------------------------------------------------------
# Python trainer / Viterbi (the single implementation both Spark tiers use)
# ---------------------------------------------------------------------------

def _q(x: int) -> int:
    """Q(x) = ROUND(LN(x)·1e9) as bigint, half away from zero."""
    return _rnd_half_away(math.log(x) * 1e9)


def _viterbi(word: str, cnt: dict[str, int], qn: int,
             path: bool = False):
    """Viterbi-optimal segmentation under piece counts ``cnt`` (all vocab
    pieces, including 0-count) and normalizer ``qn``.  Returns n_pieces, or
    the piece list when ``path``.  Mirrors the oracle DP cell for cell —
    encoding, decode floors, candidate rules (single chars always candidates
    via smoothing; multi-char pieces only if in vocabulary)."""
    L = len(word)
    if L > ULM_LMAX:
        return list(word) if path else L          # documented fallback
    dp: list[tuple[int, int] | None] = [(0, 0)] + [None] * L
    for k in range(1, L + 1):
        best = None
        for l in range(1, min(ULM_PMAX, k) + 1):
            prev = dp[k - l]
            if prev is None:
                continue
            piece = word[k - l:k]
            if l == 1:
                c = cnt.get(piece, 0)
            elif piece in cnt:
                c = cnt[piece]
            else:
                continue
            score = _q(c + 1) - qn
            enc = (prev[0] + score * 64 - 1) * 8 + (l - 1)
            if best is None or enc > best:
                best = enc
        d = (best + 4) // 8
        dp[k] = (d, best - 8 * d + 1)
    d = dp[L][0]
    n = 64 * ((d + 63) // 64) - d
    if not path:
        return n
    pieces, pos = [], L
    while pos > 0:
        l = dp[pos][1]
        pieces.append(word[pos - l:pos])
        pos -= l
    pieces.reverse()
    return pieces


def _qnorm(cnt: dict[str, int]) -> int:
    return _q(sum(cnt.values()) + len(cnt) + 1)


def _train_ulm_py(words: list[tuple[str, int]]
                  ) -> list[tuple[str, int, int]]:
    """(piece, count, rank) after seeding + {ULM_ITERS} hard-EM rounds —
    the trainer the oracle's unrolled CTEs replicate."""
    seed: dict[str, int] = {}
    for w, f in words:
        for l in range(1, ULM_PMAX + 1):
            for i in range(len(w) - l + 1):
                seed[w[i:i + l]] = seed.get(w[i:i + l], 0) + f
    singles = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(((p, c) for p, c in seed.items() if len(p) >= 2),
                   key=lambda pc: (-pc[1], pc[0]))[:ULM_SEED]
    cnt = dict(singles, **dict(multi))
    for _ in range(ULM_ITERS):
        qn = _qnorm(cnt)
        new = {p: 0 for p in cnt}
        for w, f in words:
            for piece in _viterbi(w, cnt, qn, path=True):
                new[piece] += f
        cnt = new
    ranked = sorted(cnt.items(), key=lambda pc: (-pc[1], pc[0]))
    return [(p, c, r + 1) for r, (p, c) in enumerate(ranked)]


# ---------------------------------------------------------------------------
# oracle SQL — unrolled retraining + Viterbi DP
# ---------------------------------------------------------------------------

def _score(c_expr: str) -> str:
    return f"(CAST(ROUND(LN({c_expr} + 1) * 1e9) AS BIGINT) - g.qn)"


def _dp_ctes(pfx: str, model: str, gcte: str, words: str) -> str:
    """DP CTEs ``{pfx}dp0..{pfx}dp{ULM_LMAX}`` + ``{pfx}dpall`` over relation
    ``words(word)`` scored by ``model(piece, c)`` with normalizer
    ``{gcte}(qn)``."""
    dec = "CAST(FLOOR((CAST(MAX(enc) AS DOUBLE) + 4) / 8) AS BIGINT)"
    parts = [f"{pfx}dp0 AS (SELECT word, CAST(0 AS BIGINT) AS d, "
             f"CAST(0 AS BIGINT) AS l FROM {words} "
             f"WHERE len(word) <= {ULM_LMAX})"]
    for k in range(1, ULM_LMAX + 1):
        branches = [f"""
        SELECT p.word,
               (p.d + {_score('COALESCE(v.c, 0)')} * 64 - 1) * 8 + 0 AS enc
        FROM {pfx}dp{k - 1} p CROSS JOIN {gcte} g
        LEFT JOIN {model} v ON v.piece = substring(p.word, {k}, 1)
        WHERE len(p.word) >= {k}"""]
        for l in range(2, ULM_PMAX + 1):
            if k - l < 0:
                continue
            branches.append(f"""
        SELECT p.word,
               (p.d + {_score('v.c')} * 64 - 1) * 8 + {l - 1} AS enc
        FROM {pfx}dp{k - l} p CROSS JOIN {gcte} g
        JOIN {model} v ON v.piece = substring(p.word, {k - l + 1}, {l})
        WHERE len(p.word) >= {k}""")
        parts.append(f"""{pfx}dp{k} AS MATERIALIZED (
        SELECT word, {dec} AS d, MAX(enc) - 8 * {dec} + 1 AS l
        FROM ({' UNION ALL '.join(branches)}) GROUP BY word)""")
    parts.append(f"{pfx}dpall AS MATERIALIZED ("
                 + " UNION ALL ".join(
                     f"SELECT word, {k} AS k, d, l FROM {pfx}dp{k}"
                     for k in range(1, ULM_LMAX + 1)) + ")")
    return ",\n".join(parts)


def _bt_ctes(pfx: str, words: str = "ulm_w0",
             with_cnt: bool = True) -> str:
    """Backtrace CTEs over ``{pfx}dpall`` for relation ``words(word)``,
    ending in ``{pfx}emit(word, piece)`` — one row per piece on each word's
    unique Viterbi path — and (training phases) ``{pfx}cnt(piece, c)``, the
    next model's counts (vocab pieces only, unused pieces at 0)."""
    parts = [f"{pfx}bt0 AS (SELECT word, CAST(len(word) AS BIGINT) AS pos "
             f"FROM {words} WHERE len(word) <= {ULM_LMAX})"]
    for i in range(1, ULM_LMAX + 1):
        parts.append(f"""{pfx}bt{i} AS MATERIALIZED (
        SELECT b.word, b.pos - d.l AS pos,
               substring(b.word, CAST(b.pos - d.l + 1 AS INT),
                         CAST(d.l AS INT)) AS piece
        FROM {pfx}bt{i - 1} b
        JOIN {pfx}dpall d ON d.word = b.word AND d.k = b.pos
        WHERE b.pos > 0)""")
    emitted = " UNION ALL ".join(
        f"SELECT word, piece FROM {pfx}bt{i}"
        for i in range(1, ULM_LMAX + 1))
    parts.append(f"{pfx}emit AS MATERIALIZED ({emitted})")
    if with_cnt:
        parts.append(f"""{pfx}cnt AS MATERIALIZED (
        SELECT m.piece, CAST(COALESCE(SUM(w.freq), 0) AS BIGINT) AS c
        FROM ulm_m0 m
        LEFT JOIN {pfx}emit e ON e.piece = m.piece
        LEFT JOIN ulm_w0 w ON w.word = e.word
        GROUP BY m.piece)""")
    return ",\n".join(parts)


def _gcte(name: str, model: str) -> str:
    return (f"{name} AS (SELECT CAST(ROUND(LN(SUM(c) + "
            f"(SELECT COUNT(*) FROM {model}) + 1) * 1e9) AS BIGINT) AS qn "
            f"FROM {model})")


def _ulm_train_ctes() -> str:
    """Seed + {ULM_ITERS} hard-EM phases, ending in the final model
    ``ulm_mF(piece, c)``."""
    parts = [f"""ulm_w0 AS MATERIALIZED (
        SELECT t.w AS word, CAST(count(*) AS BIGINT) AS freq FROM documents,
        LATERAL unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t(w)
        WHERE len(t.w) <= {ULM_LMAX}
        GROUP BY t.w ORDER BY count(*) DESC, t.w LIMIT {ULM_WORDS})""",
             f"""ulm_seed AS MATERIALIZED (
        SELECT substring(word, CAST(s.i AS INT), l.l) AS piece,
               CAST(SUM(freq) AS BIGINT) AS c
        FROM ulm_w0
        CROSS JOIN LATERAL unnest(range(1, len(word) + 1)) AS s(i)
        CROSS JOIN (VALUES (1), (2), (3), (4)) AS l(l)
        WHERE s.i + l.l - 1 <= len(word)
        GROUP BY 1)""",
             f"""ulm_m0 AS MATERIALIZED (
        SELECT piece, c FROM ulm_seed WHERE len(piece) = 1
        UNION ALL
        SELECT piece, c FROM (
            SELECT piece, c, ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
            FROM ulm_seed WHERE len(piece) >= 2) WHERE rn <= {ULM_SEED})"""]
    model = "ulm_m0"
    for m in range(1, ULM_ITERS + 1):
        g = f"ulm_g{m - 1}"
        pfx = f"ulm_p{m}"
        parts.append(_gcte(g, model))
        parts.append(_dp_ctes(pfx, model, g, "ulm_w0"))
        parts.append(_bt_ctes(pfx))
        model = f"{pfx}cnt"
    parts.append(f"ulm_mF AS (SELECT piece, c FROM {model})")
    return ",\n".join(parts)


def _ulm_apply_ctes() -> str:
    """Score every DISTINCT corpus word under the final model, ending in
    ``ulm_ntok(word, ntok)`` and ``ulm_docw(doc_id, word)``."""
    np = ("64 * CAST(FLOOR((CAST(d.d AS DOUBLE) + 63) / 64) AS BIGINT) "
          "- d.d")
    return f"""ulm_docw AS MATERIALIZED (
        SELECT doc_id, t.w AS word FROM documents,
        LATERAL unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t(w)),
    ulm_aw AS MATERIALIZED (SELECT DISTINCT word FROM ulm_docw),
    {_gcte('ulm_gF', 'ulm_mF')},
    {_dp_ctes('ulm_f', 'ulm_mF', 'ulm_gF', 'ulm_aw')},
    ulm_ntok AS MATERIALIZED (
        SELECT a.word,
               CASE WHEN len(a.word) > {ULM_LMAX}
                    THEN CAST(len(a.word) AS BIGINT)
                    ELSE ({np}) END AS ntok
        FROM ulm_aw a
        LEFT JOIN ulm_fdpall d ON d.word = a.word AND d.k = len(a.word))"""


# ---------------------------------------------------------------------------
# Spark tiers
# ---------------------------------------------------------------------------

def trained_ulm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained (piece, freq, rank) vocabulary through the artifact store
    — trainer-scalar collect of the bounded top-{ULM_WORDS} word relation,
    then the pure-Python hard-EM above."""
    def build() -> DataFrame:
        vocab = _train_ulm_py(_top_words(
            _doc_words(spark, sf_dir).filter(F.length("word") <= ULM_LMAX),
            ULM_WORDS))
        return spark.createDataFrame(
            vocab, schema="piece string, freq bigint, rank int")

    return persistent_artifact(spark, sf_dir, "ulm_vocab",
                               ULM_CODE_VERSION, "documents", build)


def _ulm_model(spark: SparkSession, sf_dir: str):
    """(counts, qnorm) of the trained vocabulary — a bounded pull: the
    trainer keeps every single character (≤ ``ALPHABET``) plus ``ULM_SEED``
    multi-character pieces."""
    rows = bounded_rows(trained_ulm_vocab(spark, sf_dir).orderBy("rank"),
                        ALPHABET + ULM_SEED, "ulm_vocab")
    cnt = {r["piece"]: r["freq"] for r in rows}
    return cnt, _qnorm(cnt)


def ulm_udf(spark: SparkSession, sf_dir: str, path: bool, return_type: str):
    """Arrow-batched Viterbi UDF over the session's ONE broadcast of the
    trained model (``memo.model_udf``): the token count, or the piece list
    when ``path``."""
    return model_udf(spark, ("ulm_vocab", sf_dir),
                     lambda: _ulm_model(spark, sf_dir),
                     lambda m: lambda w: _viterbi(w, *m, path=path),
                     return_type)


def ulm_ntok_udf(spark: SparkSession, sf_dir: str):
    """Viterbi token count per DISTINCT word."""
    return ulm_udf(spark, sf_dir, False, "bigint")


@declare(
    "ulm_train_vocab",
    oracle=f"""
    WITH {_ulm_train_ctes()}
    SELECT piece, c AS freq,
           CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS INTEGER) AS rank
    FROM ulm_mF
    """,
)
def ulm_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM piece vocabulary with final hard-EM counts and
    deterministic rank — the artifact every ULM consumer applies.  The
    oracle retrains the ENTIRE trajectory (seed substring counts → two
    Viterbi-segment-and-recount rounds with unrolled DP + backtrace CTEs)."""
    return trained_ulm_vocab(spark, sf_dir).select("piece", "freq", "rank")


@declare(
    "ulm_token_count",
    oracle=f"""
    WITH {_ulm_train_ctes()},
    {_ulm_apply_ctes()}
    SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n.ntok) AS BIGINT) AS n_tokens
    FROM ulm_docw w JOIN ulm_ntok n USING (word)
    GROUP BY w.doc_id
    """,
)
def ulm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ULM subword counts under the trained vocabulary — the
    budget-relevant statistic for packing/curriculum, Viterbi-segmented.
    Apply cost ∝ DISTINCT words (Arrow UDF + join-back), not corpus size."""
    return _doc_token_counts(spark, sf_dir, ulm_ntok_udf(spark, sf_dir))


def _fertility_oracle() -> str:
    """ULM + BPE retraining oracles stitched (disjoint CTE namespaces:
    ulm_* here, bpe.py's w0/s*/b*/a*/docw/tokc there — the capstone
    stitching precedent), compared per language."""
    return f"""
    WITH {_ulm_train_ctes()},
    {_ulm_apply_ctes()},
    {_train_ctes()},
    {_apply_ctes()}
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(u.ntok) AS BIGINT) AS ulm_tokens,
           CAST(SUM(t.ntok) AS BIGINT) AS bpe_tokens,
           ROUND(CAST(SUM(u.ntok) AS DOUBLE) / COUNT(*), 6)
               AS ulm_fertility,
           ROUND(CAST(SUM(t.ntok) AS DOUBLE) / COUNT(*), 6)
               AS bpe_fertility
    FROM ulm_docw w
    JOIN ulm_ntok u USING (word)
    JOIN tokc t USING (word)
    JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@declare("ulm_bpe_fertility", oracle=_fertility_oracle())
def ulm_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility (subword tokens per word) of the ULM tokenizer
    NEXT TO the trained-BPE tokenizer over the SAME word stream — the
    statistic a tokenizer bake-off reads (the byte tier's
    ``bpe_bytes_fertility`` precedent, now cross-algorithm).  Both token
    counts are per-DISTINCT-word Arrow UDFs over their broadcast models;
    fertility divisions are integer/integer through one identically-
    evaluated double."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    docw = _doc_words(spark, sf_dir)
    words = docw.select("word").distinct()
    ucnt = words.withColumn("ntok_u",
                            ulm_ntok_udf(spark, sf_dir)(F.col("word")))
    bcnt = words.withColumn("ntok_b",
                            ntok_udf(spark, sf_dir)(F.col("word")))
    return (docw.join(ucnt, "word").join(bcnt, "word")
            .join(docs, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("ntok_u").cast("bigint").alias("ulm_tokens"),
                 F.sum("ntok_b").cast("bigint").alias("bpe_tokens"),
                 F.round(F.sum("ntok_u").cast("double")
                         / F.count(F.lit(1)), 6).alias("ulm_fertility"),
                 F.round(F.sum("ntok_b").cast("double")
                         / F.count(F.lit(1)), 6).alias("bpe_fertility")))


@declare(
    "pack_sequences_ulm",
    oracle=f"""
    WITH {_ulm_train_ctes()},
    {_ulm_apply_ctes()},
    ulm_dt AS MATERIALIZED (
        SELECT w.doc_id, CAST(sum(n.ntok) AS BIGINT) AS n_tokens
        FROM ulm_docw w JOIN ulm_ntok n USING (word) GROUP BY w.doc_id),
    ulm_ds AS (SELECT d.doc_id, d.source, t.n_tokens
               FROM documents d JOIN ulm_dt t USING (doc_id))
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM ulm_ds
    """,
)
def pack_sequences_ulm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on ULM subword counts — completes the tokenizer ×
    packing matrix (``pack_sequences_bpe`` / ``pack_sequences_bpe_bytes``
    are the merge-table tiers): pack budgets cut on the Viterbi token totals
    a ULM-tokenized dataloader consumes.  Same scale shape: per-source shard
    windows only, never one global cumsum, plus the vocabulary-sized
    tokenize-and-join-back from the ULM tier."""
    per_doc = ulm_token_count(spark, sf_dir).select("doc_id", "n_tokens")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pack_ids(docs.join(per_doc, "doc_id"))


#: census rows kept — the heavy-hitter cut (bpe.CENSUS_TOP sibling).
ULM_CENSUS_TOP = 50


@declare(
    "ulm_vocab_census",
    oracle=f"""
    WITH {_ulm_train_ctes()},
    {_ulm_apply_ctes()},
    {_bt_ctes('ulm_f', 'ulm_aw', with_cnt=False)},
    ulm_cemit AS (
        SELECT word, piece FROM ulm_femit
        UNION ALL
        SELECT word, substring(word, CAST(t.i AS INT), 1) AS piece
        FROM ulm_aw, LATERAL unnest(range(1, len(word) + 1)) AS t(i)
        WHERE len(word) > {ULM_LMAX}
    ), ulm_wcnt AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS wf
        FROM ulm_docw GROUP BY word
    )
    SELECT e.piece,
           CAST(SUM(w.wf) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT e.word) AS BIGINT) AS n_words
    FROM ulm_cemit e JOIN ulm_wcnt w USING (word)
    GROUP BY e.piece
    ORDER BY n_occurrences DESC, e.piece LIMIT {ULM_CENSUS_TOP}
    """,
)
def ulm_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus as the ULM tokenizer sees it: the top-{ULM_CENSUS_TOP}
    pieces by corpus-weighted Viterbi-path occurrence, with how many
    distinct words each appears in — the census every tokenizer bake-off
    reads next to ``bpe_vocab_census`` / ``bpe_bytes_vocab_census``.  The
    oracle backtraces the unique Viterbi path of EVERY distinct corpus word
    (the unrolled-DP machinery's third consumer); words beyond the DP
    horizon contribute their char-fallback pieces on both engines.

    Scale: piece lists materialize per DISTINCT word (Arrow UDF + broadcast
    model), the census is one explode + two hash aggs + a top-K cut."""
    return _census(_doc_words(spark, sf_dir),
                   ulm_udf(spark, sf_dir, True, "array<string>"),
                   "piece", ULM_CENSUS_TOP)
