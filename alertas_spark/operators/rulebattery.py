"""Gopher/C4-style heuristic rule BATTERY with per-rule rejection counters.

The published pretraining text filters (Gopher, Rae et al. 2021 §A1.1; C4,
Raffel et al. 2020 §2.2) are not one predicate but a battery of independent
rules, and production curation audits each rule's rejection count separately
— a threshold that silently eats 40 % of a source must be visible before the
run, not after.  ``text_quality`` / ``quality_gate_cond`` cover two of the
published signals (token-count band, punctuation ratio); this module is the
named battery: word-count bounds, mean-word-length bounds, symbol-to-word
ratio, bullet-line and ellipsis-line ratios, alphabetic-word ratio, stop-word
presence, and the C4 boilerplate screens (lorem ipsum, curly brace).

Cross-engine exactness: every rule is a PURE INTEGER comparison — ratio
thresholds are cleared of division (``n_sym/n_words ≤ 0.1`` is stated as
``10·n_sym ≤ n_words``), so there is no float seam anywhere in the battery.
Counting atoms are shared-idiom regexes (textops.WS_CHARS — never ``\\s``)
plus ``length`` differences; line counts use ``replace`` (no regex at all).

Scale shape: the per-document bits are one scan projection (embarrassingly
parallel at 100 TB); the audit is one conditional hash-agg to a single row,
unpivoted to ≤10 rule rows.  Zero joins, zero shuffles beyond the global agg.

Threshold provenance: the RATIO thresholds are the published values (symbol
0.1, bullet 0.9, ellipsis 0.3, alpha 0.8, mean word length 3–10); the
word-count band is scaled to the synthetic fixture's document lengths
(20–5000 whitespace words vs Gopher's 50–100 000) so the fixture exercises
both branches — the constant is the knob, the plan is the product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table
from alertas_spark.operators.textops import (NONWS_RE, STOPWORDS, WS_CHARS,
                                             WS_RE, words)

RB_MIN_WORDS = 20
RB_MAX_WORDS = 5000
RB_MEAN_LEN_MIN = 3      # mean word length ∈ [3, 10]  (Gopher)
RB_MEAN_LEN_MAX = 10
# ratio rules, stated division-free: ratio ≤ k/10 ⇔ 10·num ≤ k·den
RB_SYMBOL_X10 = 1        # (# + …) per word            ≤ 0.1
RB_BULLET_X10 = 9        # bullet-started lines        ≤ 0.9
RB_ELLIPSIS_X10 = 3      # ellipsis-ended lines        ≤ 0.3
RB_ALPHA_X5 = 4          # words containing a letter   ≥ 0.8
RB_MIN_STOPWORDS = 2     # distinct stop words present ≥ 2

#: letter-bearing whitespace word: leftmost-first greedy covers the maximal
#: non-ws run whenever it contains ≥1 letter — identical in Java and RE2.
_ALPHA_WORD_RE = rf"[^{WS_CHARS}]*[a-zA-Z][^{WS_CHARS}]*"
#: line ends: ``\z`` (end of text, both engines) — never ``$``, whose
#: default-mode semantics differ (Java matches before a final terminator).
_ELLIPSIS_RE = r"\.\.\.(\n|\z)"
_BULLET_RE = r"(^|\n)[ ]*[-*]"
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

# -- DuckDB counting atoms (text column in scope) ---------------------------
_D_N_WORDS = f"len(regexp_extract_all(text, '{NONWS_RE}'))"
_D_NONWS_CHARS = f"length(regexp_replace(text, '{WS_RE}', '', 'g'))"
_D_N_LINES = "(length(text) - length(replace(text, chr(10), '')) + 1)"
_D_N_BULLET = f"len(regexp_extract_all(text, '{_BULLET_RE}'))"
_D_N_ELLIPSIS = f"len(regexp_extract_all(text, '{_ELLIPSIS_RE}'))"
_D_N_ALPHA = f"len(regexp_extract_all(text, '{_ALPHA_WORD_RE}'))"
_D_N_SYM = (f"(length(text) - length(replace(text, '#', ''))"
            f" + len(regexp_extract_all(text, '\\.\\.\\.')))")
_D_STOP_HITS = (f"len(list_filter([{_STOP_LIST}], w -> list_contains("
                f"regexp_extract_all(lower(text), '[a-z0-9]+'), w)))")

#: rule name → DuckDB predicate (NULL text ⇒ NULL ⇒ bit 0 via CASE).
RULE_SQL: dict[str, str] = {
    "alpha_words": f"5 * {_D_N_ALPHA} >= {RB_ALPHA_X5} * {_D_N_WORDS}",
    "bullet_lines": f"10 * {_D_N_BULLET} <= {RB_BULLET_X10} * {_D_N_LINES}",
    "ellipsis_lines":
        f"10 * {_D_N_ELLIPSIS} <= {RB_ELLIPSIS_X10} * {_D_N_LINES}",
    "mean_word_len":
        f"({RB_MEAN_LEN_MIN} * {_D_N_WORDS} <= {_D_NONWS_CHARS}"
        f" AND {_D_NONWS_CHARS} <= {RB_MEAN_LEN_MAX} * {_D_N_WORDS})",
    "no_brace": "NOT contains(text, '{')",
    "no_lorem": "NOT contains(lower(text), 'lorem ipsum')",
    "stopword_presence": f"{_D_STOP_HITS} >= {RB_MIN_STOPWORDS}",
    "symbol_ratio": f"10 * {_D_N_SYM} <= {RB_SYMBOL_X10} * {_D_N_WORDS}",
    "word_count":
        f"{_D_N_WORDS} BETWEEN {RB_MIN_WORDS} AND {RB_MAX_WORDS}",
}
RULE_NAMES = tuple(sorted(RULE_SQL))  # alphabetical = output order

#: per-document bit relation, as a CTE body over ``documents`` —
#: ``rb_bits(doc_id, source, r_<rule>..., battery_ok)``.
RB_BITS_SQL = (
    "SELECT doc_id, source, "
    + ", ".join(f"CASE WHEN {RULE_SQL[n]} THEN 1 ELSE 0 END AS r_{n}"
                for n in RULE_NAMES)
    + ", CASE WHEN "
    + " AND ".join(f"COALESCE({RULE_SQL[n]}, FALSE)" for n in RULE_NAMES)
    + " THEN 1 ELSE 0 END AS battery_ok FROM documents"
)


def _spark_conds() -> dict[str, Column]:
    """The battery as Spark Columns over a ``text`` column — token-for-token
    the predicates ``RULE_SQL`` states for DuckDB."""
    text = F.col("text")
    n_words = F.size(F.regexp_extract_all(text, F.lit(NONWS_RE), 0))
    nonws_chars = F.length(F.regexp_replace(text, WS_RE, ""))
    n_lines = (F.length(text)
               - F.length(F.replace(text, F.lit("\n"), F.lit(""))) + 1)
    n_bullet = F.size(F.regexp_extract_all(text, F.lit(_BULLET_RE), 0))
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(_ELLIPSIS_RE), 0))
    n_alpha = F.size(F.regexp_extract_all(text, F.lit(_ALPHA_WORD_RE), 0))
    n_sym = (F.length(text)
             - F.length(F.replace(text, F.lit("#"), F.lit("")))
             + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0)))
    toks = words(text)
    stop_hits = F.size(F.filter(F.array(*[F.lit(w) for w in STOPWORDS]),
                                lambda w: F.array_contains(toks, w)))
    return {
        "alpha_words": 5 * n_alpha >= RB_ALPHA_X5 * n_words,
        "bullet_lines": 10 * n_bullet <= RB_BULLET_X10 * n_lines,
        "ellipsis_lines": 10 * n_ellipsis <= RB_ELLIPSIS_X10 * n_lines,
        "mean_word_len": (RB_MEAN_LEN_MIN * n_words <= nonws_chars)
                         & (nonws_chars <= RB_MEAN_LEN_MAX * n_words),
        "no_brace": ~F.contains(text, F.lit("{")),
        "no_lorem": ~F.contains(F.lower(text), F.lit("lorem ipsum")),
        "stopword_presence": stop_hits >= RB_MIN_STOPWORDS,
        "symbol_ratio": 10 * n_sym <= RB_SYMBOL_X10 * n_words,
        "word_count": n_words.between(RB_MIN_WORDS, RB_MAX_WORDS),
    }


def rule_bits(docs: DataFrame) -> DataFrame:
    """Per-document rule bits + combined verdict over a ``documents``-shaped
    frame: ``(doc_id, source, r_<rule>..., battery_ok)`` — the Spark twin of
    ``RB_BITS_SQL``; consumed by ``quality_rule_battery`` and the
    ``pipeline_quality_ensemble`` conjunction."""
    conds = _spark_conds()
    battery = None
    for n in RULE_NAMES:
        c = F.coalesce(conds[n], F.lit(False))
        battery = c if battery is None else (battery & c)
    return docs.select(
        "doc_id", "source",
        *[F.when(conds[n], 1).otherwise(0).alias(f"r_{n}")
          for n in RULE_NAMES],
        F.when(battery, 1).otherwise(0).alias("battery_ok"))


def _audit_oracle() -> str:
    agg_cols = ", ".join(
        f"CAST(SUM(1 - r_{n}) AS BIGINT) AS f_{n}" for n in RULE_NAMES)
    rows = " UNION ALL ".join(
        f"SELECT '{n}' AS rule, n_docs, f_{n} AS n_fail FROM agg"
        for n in RULE_NAMES)
    return f"""
    WITH bits AS MATERIALIZED ({RB_BITS_SQL}),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, {agg_cols},
               CAST(SUM(1 - battery_ok) AS BIGINT) AS f_battery
        FROM bits
    ), unp AS (
        {rows}
        UNION ALL
        SELECT 'battery' AS rule, n_docs, f_battery AS n_fail FROM agg
    )
    SELECT rule, n_docs, n_fail, (10000 * n_fail) // n_docs AS fail_bp
    FROM unp ORDER BY rule
    """


@declare("quality_rule_battery", oracle=_audit_oracle())
def quality_rule_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rule battery's audit report: one row per rule — documents checked,
    documents the rule alone rejects, and the rejection rate in basis points
    — plus the ``battery`` row (documents failing ANY rule).  This is the
    table a curation run reads before trusting a threshold; the per-document
    verdict bit feeds ``pipeline_quality_ensemble`` as ``gate_rules``.

    NULL-text convention (r17 advice): a NULL ``text`` makes every individual
    rule predicate NULL, which the CASE ladder maps to bit 0 — so a NULL-text
    document counts as FAILING every per-rule row here, not just the battery
    row.  That conflates "no text" with "rule violated" in the per-rule
    counts; it is deliberate (a NULL document must never pass curation, and
    the convention is identical cross-engine) and documented rather than
    special-cased.

    Plan: one scan projection to bits, one conditional hash-agg to a single
    row (map-side partials — no corpus-sized shuffle), one 10-row unpivot."""
    bits = rule_bits(load_table(spark, sf_dir, "documents"))
    agg = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.sum(1 - F.col(f"r_{n}")).cast("bigint").alias(f"f_{n}")
          for n in RULE_NAMES],
        F.sum(1 - F.col("battery_ok")).cast("bigint").alias("f_battery"))
    pairs = ", ".join([f"'{n}', f_{n}" for n in RULE_NAMES]
                      + ["'battery', f_battery"])
    return (agg.selectExpr(
                f"stack({len(RULE_NAMES) + 1}, {pairs}) AS (rule, n_fail)",
                "n_docs")
            .select("rule", "n_docs", "n_fail",
                    F.expr("(10000 * n_fail) div n_docs").alias("fail_bp"))
            .orderBy("rule"))
