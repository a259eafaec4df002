"""WordPiece tokenizer — the third deployed subword algorithm, completing the
BPE / ULM / WordPiece triad (Schuster & Nakajima 2012; the BERT tokenizer).

WordPiece differs from BPE (operators/bpe.py) on exactly two axes, and this
module reuses BPE's machinery everywhere else:

* **merge selection** — BPE merges the most FREQUENT adjacent pair; WordPiece
  merges the pair maximizing the likelihood gain ``score = count(a,b) /
  (count(a)·count(b))`` — rare-but-exclusive pairs win over frequent-but-
  independent ones.  The score is a rational of exact integer counts; both
  engines evaluate it as the SAME two-rounding double (``float(cnt) /
  float(l·r)`` in the Python trainer ≡ ``CAST(cnt AS DOUBLE) / CAST(CAST(l·r
  AS VARCHAR) AS DOUBLE)`` in the oracle — the product widens to HUGEINT so
  DuckDB cannot overflow-error, and the VARCHAR hop is the repo's
  correctly-rounded int→double route), ties to (lhs, rhs) ascending.
* **application** — BPE replays merges in rank order; WordPiece is GREEDY
  LONGEST-MATCH-FIRST against the final vocabulary, with continuation pieces
  marked ``##`` (word-initial atoms are plain, every later atom is ``##c``;
  a merge concatenates lhs with rhs-stripped-of-``##``, so merged pieces
  inherit the lhs's form).  The apply vocabulary is the corpus-wide ALPHABET
  (both forms of every character occurring in any distinct word) plus the
  trained pieces, so the published ``[UNK]`` branch is structurally
  unreachable: a single-character piece always matches.

Horizon contract (the ULM precedent): words longer than ``WP_LMAX`` take the
per-character fallback on BOTH engines — the greedy loop consumes ≥ 1
character per step, so ``WP_LMAX`` unrolled oracle steps are exhaustive for
every word inside the horizon.

Scale shape: training is ONE word-frequency agg + a driver loop over
≤ VOCAB_TOP tiny strings (the bpe.py trainer-scalar contract); the trained
vocabulary (alphabet + WP_MERGES pieces) rides the artifact store and
broadcasts into an Arrow UDF that tokenizes DISTINCT words only — the
corpus-sized work stays in codegen'd explode/join/agg.

No reference counterpart (the reference has no tokenizers); extension
operator per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.artifacts import bounded_rows, persistent_artifact
from alertas_spark.operators.bpe import (ALPHABET, VOCAB_TOP, _census,
                                         _doc_token_counts, _doc_words,
                                         _top_words)
from alertas_spark.operators.memo import model_udf
from alertas_spark.operators.packing import PACK_BUDGET, pack_ids
from alertas_spark.operators.textops import WORD_RE
from alertas_spark.registry import declare

WP_MERGES = 16
WP_LMAX = 12          # greedy-loop horizon; longer words take char fallback
CODE_VERSION = "wp-r17a"


def _wp_atoms(word: str) -> list[str]:
    return [word[0]] + ["##" + c for c in word[1:]] if word else []


def _strip_cont(piece: str) -> str:
    return piece[2:] if piece.startswith("##") else piece


def _train_wp_py(words: list[tuple[str, int]],
                 n_merges: int = WP_MERGES,
                 ) -> list[tuple[int, str, str, str, int, int, int]]:
    """The driver-side WordPiece loop — (rank, lhs, rhs, piece, pair_cnt,
    lhs_cnt, rhs_cnt) per round, mirroring the oracle's unrolled CTEs token
    for token.  Score comparison uses float(cnt)/float(l·r) — TWO roundings,
    matching the oracle's DOUBLE/DOUBLE division (a bare Python ``a / b`` is
    the single-rounded true quotient and can diverge in the last ulp)."""
    st = [("||" + "||".join(_wp_atoms(w)) + "||", f) for w, f in words]
    out: list[tuple[int, str, str, str, int, int, int]] = []
    for rank in range(1, n_merges + 1):
        tok: dict[str, int] = {}
        cnt: dict[tuple[str, str], int] = {}
        for s, f in st:
            toks = s.split("||")[1:-1]
            for t in toks:
                tok[t] = tok.get(t, 0) + f
            for a, b in zip(toks, toks[1:]):
                cnt[(a, b)] = cnt.get((a, b), 0) + f
        if not cnt:
            break
        (lhs, rhs), c = min(
            cnt.items(),
            key=lambda kv: (-(float(kv[1])
                              / float(tok[kv[0][0]] * tok[kv[0][1]])),
                            kv[0]))
        piece = lhs + _strip_cont(rhs)
        out.append((rank, lhs, rhs, piece, c, tok[lhs], tok[rhs]))
        pat, rep = f"|{lhs}||{rhs}|", f"|{piece}|"
        st = [(s.replace(pat, rep), f) for s, f in st]
    return out


def trained_wp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table through the artifact store."""
    def build() -> DataFrame:
        rows = _train_wp_py(_top_words(_doc_words(spark, sf_dir), VOCAB_TOP))
        return spark.createDataFrame(
            rows, schema="rank int, lhs string, rhs string, piece string, "
                         "pair_cnt bigint, lhs_cnt bigint, rhs_cnt bigint")

    return persistent_artifact(spark, sf_dir, "wordpiece_vocab", CODE_VERSION,
                               "documents", build)


def _wp_ntok(word: str, plain: set[str], cont: set[str], maxlen: int) -> int:
    """Greedy longest-match-first token count — the oracle's unrolled-step
    twin (word-initial position matches plain pieces, later positions match
    the ``##`` forms by their stripped text)."""
    if len(word) > WP_LMAX:
        return len(word)  # horizon fallback: per-character tokens
    pos, n = 0, 0
    while pos < len(word):
        vs = plain if pos == 0 else cont
        take = 1
        for ln in range(min(maxlen, len(word) - pos), 0, -1):
            if word[pos:pos + ln] in vs:
                take = ln
                break
        pos += take
        n += 1
    return n


def _wp_vocab_sets(spark: SparkSession, sf_dir: str):
    """(plain, cont, maxlen): stripped match texts per form — alphabet (every
    character of every distinct corpus word, both forms; ≤ ``ALPHABET``) +
    trained pieces (≤ ``WP_MERGES``), both pulled through ``bounded_rows``."""
    chars = bounded_rows(
        _doc_words(spark, sf_dir).select("word").distinct()
        .select(F.explode(F.split("word", "")).alias("c"))
        .filter(F.col("c") != "").distinct().orderBy("c"), ALPHABET,
        "wp_alphabet")
    plain = {r["c"] for r in chars}
    cont = set(plain)
    for r in bounded_rows(trained_wp(spark, sf_dir).orderBy("rank"),
                          WP_MERGES, "wordpiece_vocab"):
        text = _strip_cont(r["piece"])
        (cont if r["piece"].startswith("##") else plain).add(text)
    maxlen = max((len(t) for t in plain | cont), default=1)
    return plain, cont, maxlen


def _wp_udf(spark: SparkSession, sf_dir: str, fn, return_type: str):
    """A UDF applying ``fn(word, plain, cont, maxlen)`` over the session's ONE
    broadcast of the WordPiece vocabulary (``memo.model_udf``)."""
    return model_udf(spark, ("wordpiece_vocab", sf_dir),
                     lambda: _wp_vocab_sets(spark, sf_dir),
                     lambda v: lambda w: fn(w, *v), return_type)


def wp_ntok_udf(spark: SparkSession, sf_dir: str):
    """Arrow-batched greedy token counter over the broadcast vocabulary."""
    return _wp_udf(spark, sf_dir, _wp_ntok, "bigint")


# ---------------------------------------------------------------------------
# oracle CTEs
# ---------------------------------------------------------------------------

#: word → '||'-delimited WordPiece atom state ('||h||##e||##l||##l||##o||').
_STATE_WP_SQL = """'||' || substr(word, 1, 1)
        || CASE WHEN length(word) > 1
                THEN '||##' || list_aggregate(
                    list_transform(range(2, length(word) + 1),
                                   i -> substr(word, i, 1)),
                    'string_agg', '||##')
                ELSE '' END || '||'"""

_STRIP_SQL = "CASE WHEN {p} LIKE '##%' THEN substr({p}, 3) ELSE {p} END"


def _wp_train_ctes(n_merges: int = WP_MERGES) -> str:
    """Unrolled trainer ending in ``wpm`` (the merge table) — the bpe.py
    ``_train_ctes`` shape with token-count CTEs feeding the score ORDER BY."""
    parts = [f"""w0 AS MATERIALIZED (
        SELECT t.w AS word, CAST(count(*) AS BIGINT) AS freq FROM documents,
        LATERAL unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t(w)
        GROUP BY t.w ORDER BY count(*) DESC, t.w LIMIT {VOCAB_TOP})""",
             f"""s0 AS MATERIALIZED (
        SELECT word, freq, {_STATE_WP_SQL} AS s FROM w0)"""]
    for t in range(1, n_merges + 1):
        parts.append(f"""tk{t} AS MATERIALIZED (
        SELECT tok, CAST(sum(freq) AS BIGINT) AS cnt
        FROM (SELECT freq, unnest(list_filter(string_split(s, '||'),
                                              x -> x <> '')) AS tok
              FROM s{t - 1})
        GROUP BY tok)""")
        parts.append(f"""b{t} AS MATERIALIZED (
        SELECT {t} AS rank, p.lhs, p.rhs,
               p.lhs || {_STRIP_SQL.format(p="p.rhs")} AS piece,
               p.cnt AS pair_cnt, l.cnt AS lhs_cnt, r.cnt AS rhs_cnt
        FROM (SELECT z.pr[1] AS lhs, z.pr[2] AS rhs,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM (SELECT freq, list_filter(string_split(s, '||'),
                                             x -> x <> '') AS tk
                    FROM s{t - 1}),
              LATERAL unnest(list_zip(tk, tk[2:])) AS z(pr)
              WHERE z.pr[2] IS NOT NULL
              GROUP BY 1, 2) p
        JOIN tk{t} l ON l.tok = p.lhs
        JOIN tk{t} r ON r.tok = p.rhs
        ORDER BY CAST(p.cnt AS DOUBLE)
                 / CAST(CAST(CAST(l.cnt AS HUGEINT) * r.cnt AS VARCHAR)
                        AS DOUBLE) DESC,
                 p.lhs, p.rhs
        LIMIT 1)""")
        parts.append(f"""s{t} AS MATERIALIZED (
        SELECT word, freq,
        replace(s,
            coalesce((SELECT '|' || lhs || '||' || rhs || '|' FROM b{t}),
                     chr(2)),
            coalesce((SELECT '|' || piece || '|' FROM b{t}), chr(2))) AS s
        FROM s{t - 1})""")
    parts.append("wpm AS ("
                 + " UNION ALL ".join(f"SELECT * FROM b{t}"
                                      for t in range(1, n_merges + 1)) + ")")
    return ",\n".join(parts)


def _wp_apply_ctes(n_merges: int = WP_MERGES) -> str:
    """Greedy longest-match apply over DISTINCT corpus words, ending in
    ``tokc(word, ntok)`` and ``docw(doc_id, word)``.  Each of the WP_LMAX
    unrolled steps consumes the longest matching piece at the current
    position; words beyond the horizon take the char fallback upfront."""
    parts = [f"""docw AS MATERIALIZED (
        SELECT doc_id, t.w AS word FROM documents,
        LATERAL unnest(regexp_extract_all(lower(text), '{WORD_RE}')) AS t(w))""",
             """wpalpha AS MATERIALIZED (
        SELECT DISTINCT t.c AS ch
        FROM (SELECT DISTINCT word FROM docw) w,
        LATERAL unnest(string_split(w.word, '')) AS t(c)
        WHERE t.c <> '')""",
             f"""wpv AS MATERIALIZED (
        SELECT ch AS match_text, CAST(length(ch) AS INTEGER) AS plen,
               FALSE AS is_cont FROM wpalpha
        UNION ALL
        SELECT ch, CAST(length(ch) AS INTEGER), TRUE FROM wpalpha
        UNION ALL
        SELECT {_STRIP_SQL.format(p="piece")},
               CAST(length({_STRIP_SQL.format(p="piece")}) AS INTEGER),
               piece LIKE '##%'
        FROM wpm)""",
             f"""g0 AS MATERIALIZED (
        SELECT word, CAST(length(word) AS INTEGER) AS len,
               1 AS pos, CAST(0 AS BIGINT) AS ntok, '' AS path
        FROM (SELECT DISTINCT word FROM docw)
        WHERE length(word) <= {WP_LMAX})"""]
    for t in range(1, WP_LMAX + 1):
        parts.append(f"""bp{t} AS MATERIALIZED (
        SELECT word, plen, piece_out FROM (
            SELECT g.word, v.plen,
                   CASE WHEN g.pos > 1 THEN '##' || v.match_text
                        ELSE v.match_text END AS piece_out,
                   ROW_NUMBER() OVER (PARTITION BY g.word
                                      ORDER BY v.plen DESC) AS rn
            FROM g{t - 1} g JOIN wpv v
              ON v.is_cont = (g.pos > 1)
             AND substr(g.word, g.pos, v.plen) = v.match_text
            WHERE g.pos <= g.len)
        WHERE rn = 1)""")
        parts.append(f"""g{t} AS MATERIALIZED (
        SELECT g.word, g.len,
               CASE WHEN g.pos > g.len THEN g.pos
                    ELSE g.pos + bp.plen END AS pos,
               g.ntok + CASE WHEN g.pos > g.len THEN 0 ELSE 1 END AS ntok,
               g.path || CASE WHEN g.pos > g.len THEN ''
                              ELSE '||' || bp.piece_out END AS path
        FROM g{t - 1} g LEFT JOIN bp{t} bp USING (word))""")
    # the horizon-fallback branch's path is its atom display — exactly the
    # WordPiece initial state string
    parts.append(f"""tokc AS MATERIALIZED (
        SELECT word, ntok, path FROM g{WP_LMAX}
        UNION ALL
        SELECT word, CAST(length(word) AS BIGINT) AS ntok,
               {_STATE_WP_SQL} AS path
        FROM (SELECT DISTINCT word FROM docw)
        WHERE length(word) > {WP_LMAX})""")
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------


@declare(
    "wordpiece_train_vocab",
    oracle=f"""
    WITH {_wp_train_ctes()}
    SELECT rank, lhs, rhs, piece, pair_cnt, lhs_cnt, rhs_cnt
    FROM wpm ORDER BY rank
    """,
)
def wordpiece_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained WordPiece merge table: per round, the merged pair, the
    resulting piece, and the three exact integer counts the likelihood score
    is a rational of — fully auditable (the score itself is ordering-only).
    The oracle RETRAINS all {WP_MERGES} rounds in unrolled CTEs."""
    return trained_wp(spark, sf_dir).orderBy("rank")


_WP_TOKEN_ORACLE_TAIL = """
    SELECT docw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens
    FROM docw JOIN tokc USING (word)
    GROUP BY docw.doc_id
    """


@declare(
    "wordpiece_token_count",
    oracle=f"""
    WITH {_wp_train_ctes()},
    {_wp_apply_ctes()}
    {_WP_TOKEN_ORACLE_TAIL}
    """,
)
def wordpiece_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WordPiece token counts under the trained vocabulary —
    greedy longest-match over DISTINCT words (Arrow UDF, broadcast
    vocabulary), joined back to occurrences (the bpe_token_count shape)."""
    return _doc_token_counts(spark, sf_dir, wp_ntok_udf(spark, sf_dir))


@declare(
    "wordpiece_fertility",
    oracle=f"""
    WITH {_wp_train_ctes()},
    {_wp_apply_ctes()}
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           (10000 * CAST(sum(ntok) AS BIGINT)) // CAST(count(*) AS BIGINT)
               AS fert_bp
    FROM docw JOIN tokc USING (word)
    JOIN documents d USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word (fertility, in basis points) per language under the
    WordPiece vocabulary — the tokenizer-quality metric reported when
    choosing a subword algorithm; compare against ``ulm_bpe_fertility``'s
    BPE/ULM columns."""
    from alertas_spark.sources.catalog import load_table

    docw = _doc_words(spark, sf_dir)
    tokc = (docw.select("word").distinct()
            .withColumn("ntok", wp_ntok_udf(spark, sf_dir)(F.col("word"))))
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (docw.join(tokc, "word").join(langs, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("ntok").cast("bigint").alias("n_tokens"))
            .select("lang", "n_words", "n_tokens",
                    F.expr("(10000 * n_tokens) div n_words").alias("fert_bp"))
            .orderBy("lang"))


@declare(
    "pack_sequences_wordpiece",
    oracle=f"""
    WITH {_wp_train_ctes()},
    {_wp_apply_ctes()},
    wp_dt AS MATERIALIZED (
        SELECT docw.doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
        FROM docw JOIN tokc USING (word) GROUP BY docw.doc_id),
    wp_ds AS (SELECT d.doc_id, d.source, t.n_tokens
              FROM documents d JOIN wp_dt t USING (doc_id))
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM wp_ds
    """,
)
def pack_sequences_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on WordPiece subword counts — the fourth and final
    cell of the tokenizer × packing matrix (BPE / byte-BPE / ULM /
    WordPiece): pack budgets cut on the greedy-longest-match token totals a
    WordPiece-tokenized dataloader consumes.  Same scale shape as the
    siblings: per-source shard windows only, never one global cumsum."""
    from alertas_spark.sources.catalog import load_table

    per_doc = (wordpiece_token_count(spark, sf_dir)
               .select("doc_id", F.col("n_tokens")))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return pack_ids(docs.join(per_doc, "doc_id"))


def _wp_pieces(word: str, plain: set[str], cont: set[str],
               maxlen: int) -> list[str]:
    """Greedy piece LIST in display form (continuation pieces carry ``##``)
    — :func:`_wp_ntok`'s twin for consumers needing identities, with the
    same horizon fallback (atom display for words beyond ``WP_LMAX``)."""
    if len(word) > WP_LMAX:
        return _wp_atoms(word)
    pos, out = 0, []
    while pos < len(word):
        vs = plain if pos == 0 else cont
        take = 1
        for ln in range(min(maxlen, len(word) - pos), 0, -1):
            if word[pos:pos + ln] in vs:
                take = ln
                break
        out.append(("##" if pos else "") + word[pos:pos + take])
        pos += take
    return out


@declare(
    "wordpiece_vocab_census",
    oracle=f"""
    WITH {_wp_train_ctes()},
    {_wp_apply_ctes()},
    wf AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM docw GROUP BY word),
    wt AS MATERIALIZED (
        SELECT word, t.tok AS piece
        FROM (SELECT word, list_filter(string_split(path, '||'), x -> x <> '')
                  AS tk FROM tokc),
        LATERAL unnest(tk) AS t(tok))
    SELECT wt.piece,
           CAST(sum(wf.freq) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT wt.word) AS BIGINT) AS n_words
    FROM wt JOIN wf USING (word)
    GROUP BY wt.piece
    ORDER BY n_occurrences DESC, piece
    LIMIT 50
    """,
)
def wordpiece_vocab_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The piece vocabulary the trained WordPiece tokenizer actually EMITS on
    this corpus — top 50 pieces by word-frequency-weighted occurrence with
    distinct-word reach, continuation pieces in their ``##`` display form —
    the post-training inspection the BPE/byte-BPE/ULM censuses run, closing
    the census symmetry across all four tokenizer families.

    Scale shape: the census is the greedy apply's piece lists (Arrow UDF over
    DISTINCT words) exploded against one corpus word-frequency hash agg; the
    top-k is a TakeOrderedAndProject over a (piece)-keyed combinable agg.
    (occurrences DESC, piece) is a total order, so the LIMIT is
    deterministic."""
    return _census(_doc_words(spark, sf_dir),
                   _wp_udf(spark, sf_dir, _wp_pieces, "array<string>"),
                   "piece", 50)
