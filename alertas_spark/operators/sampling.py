"""Deterministic corpus sampling.

Training-data pipelines sample constantly — holdout splits, per-source mixing
ratios, decontamination spot-checks — and at 100 TB the sample must be
**deterministic and reshard-stable**: the same row set regardless of partitioning,
executor count, or re-runs, with no RNG state to coordinate.  ``rand(seed)`` gives
none of that (it is seeded per-partition); a content-keyed hash gives all of it.

The idiom: ``uniform = md5(key) mod M``, keep ``uniform < rate·M``.  Pure
scan-projection — zero shuffles, trivially pushes into any plan — and the md5 base
makes it bit-identical in the DuckDB oracle (the same trick the MinHash/SimHash
operators use; the hash is ``functions/keys.h60`` and its DuckDB twin ``h60_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alertas_spark.functions.keys import (h60, h60_sql, ln_uniform,
                                          ln_uniform_sql)
from alertas_spark.operators.textops import words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: hash-space modulus: rates are expressed in basis points (1/10_000)
SAMPLE_MOD = 10_000

#: per-stratum sampling rates (basis points) for the stratified query: a mixing
#: recipe like "web is abundant → 10%, books are precious → 60%"
STRATUM_RATES = {"web": 1_000, "wiki": 3_000, "books": 6_000, "code": 2_500}
DEFAULT_RATE = 2_000

_DUCK_U = h60_sql("CAST(doc_id AS VARCHAR)", mod=SAMPLE_MOD)


def _rate_case(col: str) -> str:
    branches = " ".join(f"WHEN '{k}' THEN {v}" for k, v in STRATUM_RATES.items())
    return f"CASE {col} {branches} ELSE {DEFAULT_RATE} END"


@declare(
    "sample_hash_stratified",
    oracle=f"""
    SELECT doc_id, source, {_DUCK_U} AS u
    FROM documents
    WHERE {_DUCK_U} < {_rate_case('source')}
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a doc iff its md5-derived uniform
    falls under its stratum's rate (per-``source`` mixing ratios).  Same rows on
    every run, every partitioning, every engine — the property RNG sampling can't
    give a distributed pipeline.  Nested subsets come free: a 10% sample is a strict
    subset of a 30% sample under the same key, so growing a mixing ratio only ADDS
    documents (stable training-set diffs)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("u", h60("doc_id", mod=SAMPLE_MOD))
        .filter(F.col("u") < F.expr(_rate_case("source")))
        .select("doc_id", "source", "u")
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle into training shards
# ---------------------------------------------------------------------------

SHUFFLE_SEED = "e3"  # epoch tag mixed into the hash → a new seed reshuffles
N_SHARDS = 8

_SHUF_DUCK = h60_sql("CAST(doc_id AS VARCHAR)", f"{SHUFFLE_SEED}:")


@declare(
    "shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, {_SHUF_DUCK} AS k FROM documents
    )
    SELECT doc_id, source,
           CAST(k % {N_SHARDS} AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % {N_SHARDS}
                                   ORDER BY k, doc_id) AS INTEGER) AS pos
    FROM keyed
    """,
)
def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: the pre-training data-order step.  Every doc
    gets a content-keyed pseudorandom 60-bit key; shard = key mod {N_SHARDS},
    pos = rank of the key within the shard — together a reproducible random
    permutation of the corpus (same order on every run/partitioning/engine, and a
    new SHUFFLE_SEED is a fresh epoch permutation with zero state to coordinate).

    Scale shape: one shuffle on the shard key, then each shard sorts locally by
    the hash — no global ordering ever serializes onto one reducer.  At 100 TB
    raise N_SHARDS to O(cluster cores) (thousands); the per-shard sort stays
    memory-bounded and the output is exactly the sharded-file layout a training
    dataloader consumes."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "source",
                        h60("doc_id", f"{SHUFFLE_SEED}:").alias("k"))
    w = W.partitionBy(F.col("k") % N_SHARDS).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id", "source",
        (F.col("k") % N_SHARDS).cast("int").alias("shard"),
        F.row_number().over(w).cast("int").alias("pos"),
    )


# ---------------------------------------------------------------------------
# Weighted dataset mixing — per-source epoch weights with upsampling
# ---------------------------------------------------------------------------

#: per-source epoch weights in basis points (10_000 = 1.0 epoch): sources can be
#: downsampled (< 1 epoch), upsampled a fractional amount, or repeated whole
#: epochs — the mixture recipe of LLM pre-training (e.g. wiki seen 2.5x, web 0.3x)
MIX_WEIGHTS_BP = {"src0": 3_000, "src1": 25_000, "src2": 17_000}
MIX_DEFAULT_BP = 10_000

_MIX_U_DUCK = h60_sql("CAST(doc_id AS VARCHAR)", "mix:", SAMPLE_MOD)


def _mix_case(col: str) -> str:
    branches = " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS_BP.items())
    return f"CASE {col} {branches} ELSE {MIX_DEFAULT_BP} END"


@declare(
    "dataset_mix_weighted",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, {_MIX_U_DUCK} AS u,
               {_mix_case('source')} AS w_bp
        FROM documents
    ), c AS (
        SELECT doc_id, source,
               (w_bp // {SAMPLE_MOD})
               + CASE WHEN u < (w_bp % {SAMPLE_MOD}) THEN 1 ELSE 0 END AS n_copies
        FROM w
    ), e AS (
        SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS copy_idx
        FROM c WHERE n_copies >= 1
    )
    SELECT doc_id, source, CAST(copy_idx AS INTEGER) AS copy_idx FROM e
    """,
)
def dataset_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mixing: each source's epoch weight w maps a
    doc to floor(w) whole copies plus one more iff its content-keyed uniform falls
    under frac(w) — so a 2.5x source repeats every doc twice and half the docs (a
    deterministic, reshard-stable half) a third time, and a 0.3x source keeps 30%.
    The standard mixture-recipe materialization for pre-training.

    Scale shape: pure scan-side projection + explode — zero shuffles; copies are
    generated where the row is read.  Growing a weight only ADDS copies (nested
    under the same hash key), so recipe diffs are stable."""
    docs = load_table(spark, sf_dir, "documents")
    n_copies = (
        (F.expr(_mix_case("source")) / SAMPLE_MOD).cast("int")
        + (h60("doc_id", "mix:", SAMPLE_MOD)
           < F.expr(_mix_case("source")) % SAMPLE_MOD).cast("int")
    )
    return (
        docs.select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
        .select("doc_id", "source",
                F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"))
        .withColumn("copy_idx", F.col("copy_idx").cast("int"))
    )


# ---------------------------------------------------------------------------
# UniMax language/source sampling — budget waterfill with per-source epoch cap
# ---------------------------------------------------------------------------
#
# UniMax (Chung et al., 2023): instead of a temperature knob, allocate a total
# training budget B as UNIFORMLY as possible across sources subject to a cap
# of E epochs per source — small curated sources get their full E epochs, the
# web crawl absorbs what's left.  The published pseudocode iterates; the
# allocation has a CLOSED FORM this engine can evaluate exactly with window
# functions: sort sources ascending by capacity cap_s = E·n_s; source i
# (of m) takes its full capacity iff
#
#     cumcap_{<i} + cap_i·(m − i + 1) ≤ B
#
# (the "pretend everyone before took full capacity" test — monotone in i
# because caps ascend, so the fully-allocated set is a PREFIX), and every
# source past the prefix takes the equal floor share
# (B − cumcap_prefix) // (m − |prefix|).  All quantities are exact integers
# (character counts), so both engines agree bit-for-bit with zero iteration,
# zero libm, and one ≤|sources|-row window — nothing grows with the corpus.

UNIMAX_EPOCH_CAP = 3      # E: max epochs per source
UNIMAX_BUDGET_PCT = 100   # B as a percentage of the corpus' total characters


@declare(
    "dataset_mix_unimax",
    oracle=f"""
    WITH src AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_s
        FROM documents WHERE n_chars IS NOT NULL
        GROUP BY source
    ), ranked AS (
        SELECT source, n_s, {UNIMAX_EPOCH_CAP} * n_s AS cap,
               ROW_NUMBER() OVER (ORDER BY {UNIMAX_EPOCH_CAP} * n_s, source)
                   AS i,
               COUNT(*) OVER () AS m,
               COALESCE(SUM({UNIMAX_EPOCH_CAP} * n_s) OVER (
                   ORDER BY {UNIMAX_EPOCH_CAP} * n_s, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumcap,
               ((SELECT SUM(n_s) FROM src) * {UNIMAX_BUDGET_PCT}) // 100
                    AS b
        FROM src
    ), marked AS (
        SELECT *, CASE WHEN cumcap + cap * (m - i + 1) <= b
                       THEN 1 ELSE 0 END AS is_full
        FROM ranked
    ), pfx AS (
        SELECT COALESCE(SUM(CASE WHEN is_full = 1 THEN cap END), 0)
                   AS full_cap,
               COALESCE(SUM(is_full), 0) AS n_full
        FROM marked
    )
    SELECT r.source, r.n_s,
           CAST(r.cap AS BIGINT) AS cap_chars,
           CAST(CASE WHEN r.is_full = 1 THEN r.cap
                     ELSE (r.b - p.full_cap) // (r.m - p.n_full)
                END AS BIGINT) AS alloc_chars,
           CAST((CASE WHEN r.is_full = 1 THEN r.cap
                      ELSE (r.b - p.full_cap) // (r.m - p.n_full)
                 END) * 10000 // r.n_s AS BIGINT) AS epochs_bp
    FROM marked r CROSS JOIN pfx p
    """,
)
def dataset_mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation: per source, its character mass, its
    {UNIMAX_EPOCH_CAP}-epoch capacity, the allocated character budget under
    the closed-form waterfill, and the realized epochs in basis points —
    the mixture-recipe report a pretraining run materializes its sampler
    from (the cap-aware alternative to ``dataset_mix_temperature``).

    Plan: one hash agg to ≤|sources| rows, one window over that relation,
    one 2-scalar broadcast — pure integer algebra, zero libm."""
    from alertas_spark.operators import memo

    docs = load_table(spark, sf_dir, "documents")
    # materialize once: tot/ranked/pfx/final all derive from this ≤|sources|-
    # row relation and Catalyst does not CSE identical subtrees (the
    # dataset_mix_temperature / fuzzy.py precedent)
    src = memo.cached(docs.filter(F.col("n_chars").isNotNull())
                      .groupBy("source")
                      .agg(F.sum("n_chars").cast("bigint").alias("n_s")))
    src.count()
    cap = F.lit(UNIMAX_EPOCH_CAP) * F.col("n_s")
    w = W.orderBy(cap, "source")
    # integer arithmetic end-to-end (r16 advice): double division + cast
    # truncates on Spark but rounds on DuckDB when sum*pct/100 is ever
    # non-integral, and the downstream products (alloc·10000, b−full_cap)
    # exceed 2^53 at corpus scale where double floors diverge cross-engine.
    tot = src.agg(F.expr(f"(sum(n_s) * {UNIMAX_BUDGET_PCT}) div 100")
                  .cast("bigint").alias("b"))
    ranked = (src
              .withColumn("cap", cap)
              .withColumn("i", F.row_number().over(w))
              .withColumn("m", F.count(F.lit(1)).over(
                  W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
              .withColumn("cumcap", F.coalesce(
                  F.sum("cap").over(w.rowsBetween(W.unboundedPreceding, -1)),
                  F.lit(0)))
              .crossJoin(F.broadcast(tot))
              .withColumn("is_full",
                          (F.col("cumcap")
                           + F.col("cap") * (F.col("m") - F.col("i") + 1)
                           <= F.col("b")).cast("int")))
    pfx = ranked.agg(
        F.coalesce(F.sum(F.when(F.col("is_full") == 1, F.col("cap"))),
                   F.lit(0)).alias("full_cap"),
        F.coalesce(F.sum("is_full"), F.lit(0)).alias("n_full"))
    # bigint `div` mirrors the oracle's `//` exactly at any magnitude —
    # F.floor over double division would lose exactness past 2^53
    alloc = F.when(F.col("is_full") == 1, F.col("cap")).otherwise(
        F.expr("(b - full_cap) div (m - n_full)"))
    return (ranked.crossJoin(F.broadcast(pfx))
            .withColumn("alloc_chars", alloc.cast("bigint"))
            .select("source", "n_s",
                    F.col("cap").cast("bigint").alias("cap_chars"),
                    "alloc_chars",
                    F.expr("(alloc_chars * 10000) div n_s").cast("bigint")
                    .alias("epochs_bp")))


# ---------------------------------------------------------------------------
# DoReMi-lite domain reweighting — multiplicative weights over excess loss
# ---------------------------------------------------------------------------
#
# DoReMi (Xie et al., 2023): derive domain mixture weights from MODEL SIGNAL
# — a Group-DRO proxy run upweights domains whose loss exceeds a reference
# model's, via multiplicative weights α_t ∝ α_{t-1}·exp(η·excess_s) followed
# by renormalization and uniform smoothing.  The corpus-statistics mixers
# above (weighted / temperature / UniMax) never look at a model; this tier
# does — the artifact-served unigram LM stands in for the proxy model, its
# per-domain mean cross-entropy is the loss relation, and the corpus-global
# mean is the reference, so excess_s = max(0, CE_s − CE_corpus).  The losses
# are STATIC here (no proxy retraining per step), which is exactly why the
# published smoothing step matters: the loop is NOT a closed form because
# each round renormalizes and remixes with uniform — the trajectory is the
# algorithm, and the oracle retrains it in unrolled CTEs (the IRLS
# precedent).
#
# Exactness: per-domain loss numerators are exact integer sums of the
# quantized-ln unigram atoms; CE_s is quantized to 1e-9 nats by one
# identically-parenthesized double division; the single libm exp per domain
# is quantized to 1e-5 immediately (the dataset_mix_temperature idiom); the
# whole MW trajectory after that is BIGINT `div` algebra, bit-equal on both
# engines at any corpus size.  Magnitude audit: excess clamps at 3e9
# (3 nats), so qexp ≤ e³·1e5 ≈ 2.01e6, α ≤ 1e6, and the widest product
# α·qexp·1e6 ≤ 2.1e18 < 2^63.  Domain-count bound: the uniform share
# 1e6 // m needs m ≤ 10⁴ for the smoothing floor to stay ≥ 1 — DoReMi
# domains are dozens, not thousands.

DOREMI_ITERS = 4
DOREMI_ETA = 1.0              # MW step size η
DOREMI_SMOOTH_FP = 10000      # uniform smoothing c = 0.01, in 1e-6 fixed point
DOREMI_CLAMP_Q = 3_000_000_000  # excess loss clamp: 3 nats at 1e-9


def _doremi_oracle(eta: float) -> str:
    from alertas_spark.operators.textops import _UNIGRAM_SCORED_CTES

    C, U = DOREMI_SMOOTH_FP, "(1000000 // m)"
    its = []
    prev = "dr0"
    for k in range(1, DOREMI_ITERS + 1):
        its.append(f"""drm{k} AS MATERIALIZED (
        SELECT source, n_tokens, ce_q, ex_q, qexp, m,
               a * qexp AS mnum,
               SUM(a * qexp) OVER () AS mz
        FROM {prev}
    ), dr{k} AS MATERIALIZED (
        SELECT source, n_tokens, ce_q, ex_q, qexp, m,
               ((1000000 - {C}) * ((mnum * 1000000) // mz)
                + {C} * {U}) // 1000000 AS a
        FROM drm{k}
    )""")
        prev = f"dr{k}"
    return f"""
    WITH {_UNIGRAM_SCORED_CTES},
    drdom AS MATERIALIZED (
        SELECT dd.source,
               SUM(CAST(d.dc AS HUGEINT)
                   * (g.qln_n - CAST(ROUND(LN(ct.c) * 1e9) AS BIGINT)))
                   AS num,
               CAST(SUM(d.dc) AS BIGINT) AS den
        FROM d JOIN ct USING (t) CROSS JOIN g
        JOIN documents dd USING (doc_id)
        GROUP BY dd.source
    ), drce AS MATERIALIZED (
        SELECT source, den AS n_tokens,
               CAST(ROUND(CAST(CAST(num AS VARCHAR) AS DOUBLE)
                          / CAST(den AS DOUBLE)) AS BIGINT) AS ce_q
        FROM drdom
    ), drg AS (
        SELECT CAST(ROUND(CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
                          / CAST(SUM(den) AS DOUBLE)) AS BIGINT) AS gce_q,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM drdom
    ), dr0 AS MATERIALIZED (
        SELECT c.source, c.n_tokens, c.ce_q,
               LEAST(GREATEST(c.ce_q - g.gce_q, 0), {DOREMI_CLAMP_Q})
                   AS ex_q,
               CAST(ROUND(EXP({eta} * CAST(LEAST(GREATEST(c.ce_q - g.gce_q,
                                                          0),
                                                 {DOREMI_CLAMP_Q}) AS DOUBLE)
                              / 1e9) * 1e5) AS BIGINT) AS qexp,
               g.m, 1000000 // g.m AS a
        FROM drce c CROSS JOIN drg g
    ), {", ".join(its)}
    SELECT source, n_tokens, CAST(ce_q AS DOUBLE) / 1e9 AS ce_nats,
           ex_q AS excess_q, CAST(a AS BIGINT) AS alpha_fp,
           CAST(a // 100 AS BIGINT) AS weight_bp
    FROM dr{DOREMI_ITERS} ORDER BY source
    """


def _doremi(spark: SparkSession, sf_dir: str, eta: float) -> DataFrame:
    """Builder with η exposed: at η = 0 every domain's multiplier is 1 and
    the trajectory must stay exactly uniform (pinned by pytest — the
    uniform-initialization contract)."""
    from alertas_spark.operators import memo
    from alertas_spark.operators.textops import _lm_unigram_counts

    docs = load_table(spark, sf_dir, "documents")
    d = (docs.filter(F.col("text").isNotNull())
         .select("doc_id", "source",
                 F.explode(words()).alias("t"))
         .groupBy("doc_id", "source", "t")
         .agg(F.count(F.lit(1)).alias("dc")))
    ct = _lm_unigram_counts(spark, sf_dir)
    g = ct.agg(F.round(F.log(F.sum("c")) * 1e9).cast("bigint")
               .alias("qln_n"))
    qc = F.round(F.log("c") * 1e9).cast("bigint")
    # ≤|sources|-row loss relation, materialized once (four iterations and
    # the global reference all derive from it — the fuzzy.py CSE precedent)
    dom = memo.cached(
        d.join(ct, "t").crossJoin(F.broadcast(g))
        .withColumn("term",
                    F.col("dc").cast("decimal(38,0)")
                    * (F.col("qln_n") - qc))
        .groupBy("source")
        .agg(F.sum("term").alias("num"),
             F.sum("dc").cast("bigint").alias("den")))
    dom.count()
    ce_q = lambda num, den: (  # noqa: E731
        F.round(num.cast("double") / den.cast("double")).cast("bigint"))
    drg = dom.agg(ce_q(F.sum("num"), F.sum("den")).alias("gce_q"),
                  F.count(F.lit(1)).cast("bigint").alias("m"))
    ex = F.least(F.greatest(ce_q(F.col("num"), F.col("den"))
                            - F.col("gce_q"), F.lit(0)),
                 F.lit(DOREMI_CLAMP_Q))
    cur = (dom.crossJoin(F.broadcast(drg))
           .withColumn("n_tokens", F.col("den"))
           .withColumn("ce_q", ce_q(F.col("num"), F.col("den")))
           .withColumn("ex_q", ex)
           .withColumn("qexp",
                       F.round(F.exp(F.lit(eta) * F.col("ex_q")
                                     .cast("double") / 1e9) * 1e5)
                       .cast("bigint"))
           .withColumn("a", F.expr("1000000 div m"))
           .select("source", "n_tokens", "ce_q", "ex_q", "qexp", "m", "a"))
    allw = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    for _ in range(DOREMI_ITERS):
        cur = (cur.withColumn("mnum", F.col("a") * F.col("qexp"))
               .withColumn("mz", F.sum("mnum").over(allw))
               .withColumn("a", F.expr(
                   f"((1000000 - {DOREMI_SMOOTH_FP})"
                   f" * ((mnum * 1000000) div mz)"
                   f" + {DOREMI_SMOOTH_FP} * (1000000 div m)) div 1000000"))
               .drop("mnum", "mz"))
    return (cur.select("source", "n_tokens",
                       (F.col("ce_q").cast("double") / 1e9).alias("ce_nats"),
                       F.col("ex_q").alias("excess_q"),
                       F.col("a").alias("alpha_fp"),
                       F.expr("a div 100").alias("weight_bp"))
            .orderBy("source"))


@declare("dataset_mix_doremi", oracle=_doremi_oracle(DOREMI_ETA))
def dataset_mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-lite domain reweighting: per source, its token mass, its mean
    cross-entropy under the corpus unigram LM, its clamped excess loss over
    the corpus reference, and the domain weight after {DOREMI_ITERS}
    multiplicative-weights rounds with uniform smoothing — the
    model-signal-derived mixture recipe the corpus-statistics mixers can't
    produce.  The oracle RETRAINS the full trajectory in unrolled CTEs.

    Plan: the unigram scorer's hash aggs reduced per-source instead of
    per-document (same shuffle keys), then {DOREMI_ITERS} rounds of window
    algebra over the ≤|sources|-row relation — nothing after the loss agg
    grows with the corpus, and the trained weights are broadcastable
    anywhere."""
    return _doremi(spark, sf_dir, DOREMI_ETA)


# ---------------------------------------------------------------------------
# Deterministic WEIGHTED sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------
#
# Quality-weighted corpus selection: draw K documents where a document's
# inclusion probability is proportional to its weight, WITHOUT replacement,
# deterministically.  The A-ES scheme (Efraimidis & Spirakis 2006) assigns
# each row the priority u^(1/w) for u ~ Uniform(0,1] and keeps the global
# top-K — exactly a weighted draw — and because ranking is monotone in
# ln(u)/w, the priority is computed in that form.
#
# Determinism contract: u is md5-derived (reshard/rerun/engine-stable, the
# module convention), and ln(u) is quantized to 1e-9 fixed point BEFORE the
# divide (the product_aggregate trick: engine libm ln may differ in the last
# ulp; the quantized bigint is identical, and bigint/double division is
# single-rounded on both engines).  Selection + ranks are then bit-equal.

SAMPLE_K = 200

#: u ∈ (0, 1]: h = h60('ws:' || doc_id) ∈ [0, 2^60), u = (h+1) / 2^60
_W_DUCK_LNU = ln_uniform_sql(h60_sql("CAST(doc_id AS VARCHAR)", "ws:"))


@declare(
    "sample_weighted_topk",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, n_chars,
               {_W_DUCK_LNU} / CAST(n_chars + 1 AS DOUBLE) AS p
        FROM documents
        WHERE n_chars IS NOT NULL
    ), ranked AS (
        SELECT doc_id, n_chars, p,
               ROW_NUMBER() OVER (ORDER BY p DESC, doc_id) AS rnk
        FROM pri
    )
    SELECT doc_id, n_chars, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {SAMPLE_K}
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample of {SAMPLE_K} documents without replacement
    (weight = n_chars + 1: longer docs proportionally likelier, every doc
    still possible).  Scan-side priority projection + the two-phase exact
    top-k (operators/topk.py): each partition emits only its local best K,
    the final rank sorts ≤ K·n_partitions rows — no global sort of the
    corpus, the same selection at any scale."""
    from alertas_spark.operators.topk import ranked_topk

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("n_chars").isNotNull()))
    lnq = ln_uniform(h60("doc_id", "ws:"))
    pri = docs.select(
        "doc_id", "n_chars",
        (lnq.cast("double") / (F.col("n_chars") + 1).cast("double")).alias("p"),
        F.lit(0).alias("g"))  # constant key: global top-k through the 2-phase op
    return (ranked_topk(pri, "g", "p", "doc_id", SAMPLE_K, ascending=False)
            .select("doc_id", "n_chars", F.col("rnk").cast("int").alias("rnk")))


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling — q_s ∝ p_s^(1/T) with per-source caps
# ---------------------------------------------------------------------------
#
# The published multilingual/pretraining mixture recipe (XLM-R §3.1, mT5 §3.2,
# Gopher table A5): instead of FIXED per-source epoch weights
# (dataset_mix_weighted above), derive them from the corpus itself — sample
# source s with probability q_s ∝ p_s^α where p_s = n_s/N is its natural share
# and α = 1/T flattens the distribution (T > 1 upsamples small curated
# sources, downsamples the web crawl; T = 1 is natural sampling; T → ∞ is
# uniform-over-sources).  The expected per-document multiplicity under a
# one-epoch total budget B = N is then  c_s = B·q_s/n_s,  capped per source so
# a tiny source is never repeated absurdly (the recipe's max-epochs knob).
#
# Cross-engine exactness: ln(n_s) and the single exp are the only libm calls —
# both are quantized to bigints immediately (the A8 product-aggregate idiom:
# quantized-ln difference, ONE exp of the same double on both engines, ROUND
# to integer micro-units).  The normalizer Z = Σ_s qu_s is then an EXACT
# integer sum (no float-order seam), the epoch weight w_bp is one
# identically-parenthesized double expression of exact integers (IEEE ops are
# engine-deterministic; only libm isn't), and the per-document copy
# materialization reuses dataset_mix_weighted's floor + fractional-hash split
# under a fresh salt.  ALPHA is 0.5 exactly representable in binary (T = 2).

MIX_TEMPERATURE = 2.0
MIX_ALPHA = 0.5            # 1/T — keep exactly representable in binary
MIX_CAP_BP = 30_000        # per-source cap: at most 3 epochs

_MT_U_DUCK = h60_sql("CAST(doc_id AS VARCHAR)", "mixT:", SAMPLE_MOD)


@declare(
    "dataset_mix_temperature",
    oracle=f"""
    WITH src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(ROUND(LN(CAST(SUM(n_s) AS DOUBLE)) * 1e9) AS BIGINT)
                   AS qln_n
        FROM src
    ), uq AS (
        SELECT source, n_s,
               CAST(ROUND(EXP({MIX_ALPHA}
                   * CAST(CAST(ROUND(LN(CAST(n_s AS DOUBLE)) * 1e9) AS BIGINT)
                          - tot.qln_n AS DOUBLE) / 1e9) * 1e9) AS BIGINT) AS qu
        FROM src CROSS JOIN tot
    ), z AS (
        SELECT CAST(SUM(qu) AS BIGINT) AS zq FROM uq
    ), w AS (
        SELECT source, n_s,
               LEAST(CAST(ROUND(CAST(tot.n AS DOUBLE) * CAST(qu AS DOUBLE)
                                * 1e4 / CAST(z.zq AS DOUBLE)
                                / CAST(n_s AS DOUBLE)) AS BIGINT),
                     {MIX_CAP_BP}) AS w_bp
        FROM uq CROSS JOIN tot CROSS JOIN z
    ), c AS (
        SELECT d.doc_id, d.source,
               (w.w_bp // {SAMPLE_MOD})
               + CASE WHEN {_MT_U_DUCK} < (w.w_bp % {SAMPLE_MOD})
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w ON d.source IS NOT DISTINCT FROM w.source
    )
    SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS INTEGER)
               AS copy_idx
    FROM c WHERE n_copies >= 1
    """,
)
def dataset_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled dataset mixing (T = {MIX_TEMPERATURE}): per-source
    epoch weights q_s ∝ (n_s/N)^(1/T) renormalized under a one-epoch total
    budget, capped at {MIX_CAP_BP} bp — the corpus-derived sibling of
    ``dataset_mix_weighted``'s fixed recipe.  At T = 1 every document gets
    exactly one copy (natural sampling — pinned by pytest); T > 1
    deterministically upsamples under-represented sources.

    Scale shape: the weight table is ONE hash-agg to ≤|sources| rows of pure
    scalar algebra — broadcast back onto the scan (null-safe on source), then
    the same zero-shuffle floor + fractional-hash copy explode as the fixed
    recipe.  Nothing grows with the corpus except the scan itself."""
    return _mix_temperature(spark, sf_dir, MIX_ALPHA)


def _mix_temperature(spark: SparkSession, sf_dir: str,
                     alpha: float) -> DataFrame:
    """Builder with α = 1/T exposed so the T→1 natural-sampling limit is
    testable (α must be exactly representable in binary)."""
    from alertas_spark.operators import memo

    docs = load_table(spark, sf_dir, "documents")
    # materialize the ≤|sources|-row count relation ONCE: tot/uq/z/w all
    # derive from it and Catalyst does not CSE identical subtrees — the
    # uncached plan re-scanned documents four times for a 6-row relation
    # (the fuzzy.py precedent; measured 10 scans → 2 in the plan audit)
    src = memo.cached(docs.groupBy("source")
                      .agg(F.count(F.lit(1)).cast("bigint").alias("n_s")))
    src.count()
    qln = lambda c: F.round(F.log(c.cast("double")) * 1e9).cast("bigint")  # noqa: E731
    tot = src.agg(F.sum("n_s").cast("bigint").alias("n"),
                  qln(F.sum("n_s")).alias("qln_n"))
    uq = (src.crossJoin(F.broadcast(tot))
          .withColumn("qu", F.round(
              F.exp(F.lit(alpha)
                    * (qln(F.col("n_s")) - F.col("qln_n")).cast("double")
                    / 1e9) * 1e9).cast("bigint")))
    z = uq.agg(F.sum("qu").cast("bigint").alias("zq"))
    w = (uq.crossJoin(F.broadcast(z))
         .select(F.col("source").alias("w_source"),  # rename: w derives from
                 # docs, so joining back on the same name is an ambiguous
                 # self-join to the analyzer
                 F.least(F.round(F.col("n").cast("double")
                                 * F.col("qu").cast("double") * 1e4
                                 / F.col("zq").cast("double")
                                 / F.col("n_s").cast("double")).cast("bigint"),
                         F.lit(MIX_CAP_BP)).alias("w_bp")))
    n_copies = (F.floor(F.col("w_bp") / SAMPLE_MOD)
                + (h60("doc_id", "mixT:", SAMPLE_MOD)
                   < F.col("w_bp") % SAMPLE_MOD).cast("bigint"))
    return (docs.join(F.broadcast(w),
                      F.col("source").eqNullSafe(F.col("w_source")))
            .select("doc_id", "source", n_copies.alias("n_copies"))
            .filter(F.col("n_copies") >= 1)
            .select("doc_id", "source",
                    F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"))
            .withColumn("copy_idx", F.col("copy_idx").cast("int")))
