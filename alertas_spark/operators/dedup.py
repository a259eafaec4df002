"""Deduplication operators for large-scale document pipelines.

Three tiers, in increasing scalability:

* **exact** — content-hash groupBy; one shuffle on the hash.  The 100 TB workhorse.
* **n-gram Jaccard** — all-pairs via shingle-equality join; cost is O(pairs sharing a
  shingle).  Exact but quadratic in the worst case — the *verifier*, not the scale path.
* **MinHash + LSH** — signature computed per row with zero shuffle (array expressions,
  whole-stage codegen), then banding: only docs colliding in a band are joined.  The
  classic sub-quadratic near-dup path (Broder '97); at 100 TB the band join shuffles
  only (band_id, band_hash) keys.

All hashing is md5-based so the DuckDB oracle reproduces results bit-for-bit — the
MinHash signatures themselves are deterministic, which also makes the operator
idempotent across cluster re-runs (a 100 TB requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60, h60_sql
from alertas_spark.operators import memo
from alertas_spark.operators.embgate import EMB_VALID_SQL, np_valid_mask
from alertas_spark.operators.textops import WS_RE, norm_text, words
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: MinHash configuration: 32 permutations → 16 bands × 2 rows.
#: P(candidate | jaccard j) = 1-(1-j²)^16: j=0.3 → 0.78, j=0.5 → 0.99 — high recall at
#: the 0.3 threshold; false candidates are removed by the exact-Jaccard verify step.
N_PERM = 32
N_BANDS = 16
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.3

#: Word-3-shingle array in DuckDB (1-based list indexing) — the oracle-side
#: counterpart of ``_shingle_rows``.
_SHINGLES_DUCK = """
    list_distinct(
        CASE WHEN len(tok) >= 3 THEN
            list_transform(generate_series(1, len(tok) - 2),
                           i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
        ELSE []
        END)
"""


_DUCK_SHINGLE_CTE = f"""
    WITH tokd AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '{WS_RE}') AS tok FROM documents
    ), shing AS (
        SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM tokd
    )
"""


@declare(
    "dedup_exact",
    oracle=f"""
    SELECT md5(regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower, trim, collapse whitespace) → md5 → groupBy,
    keeper = min(doc_id).  One shuffle on a 128-bit key; at 100 TB this is a plain
    hash-partitioned aggregation with map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text()
    return (
        docs.withColumn("content_hash", F.md5(norm))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


#: Fail-fast cap for the exact shingle-join verifier (the EXACT_PAIRS_MAX_ROWS
#: sibling contract for text): past this, use the banded MinHash path.
EXACT_PAIRS_MAX_DOCS = 200_000


@declare(
    "dedup_ngram_jaccard",
    oracle=_DUCK_SHINGLE_CTE + f"""
    , sh AS (SELECT doc_id, unnest(shingles) AS s FROM shing),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM shing),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: explode distinct 3-shingles, self-join on
    shingle equality, jaccard = |∩| / (|A|+|B|-|∩|).  The shingle join is the shuffle;
    use :func:`dedup_minhash_lsh` for the sub-quadratic path at scale.

    Same fail-fast contract as the exact cosine verifier: past
    ``EXACT_PAIRS_MAX_DOCS`` documents the hot-shingle join is quadratic-prone,
    so the verifier refuses instead of melting the cluster."""
    n_probe = (load_table(spark, sf_dir, "documents")
               .limit(EXACT_PAIRS_MAX_DOCS + 1).count())
    if n_probe > EXACT_PAIRS_MAX_DOCS:
        raise RuntimeError(
            "dedup_ngram_jaccard is the exact all-pairs verifier, capped at "
            f"{EXACT_PAIRS_MAX_DOCS} documents; use dedup_minhash_lsh for the "
            "banded sub-quadratic path at scale")
    sh = _shingle_rows(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


#: affine permutation constants (fixed, engine-shared): mh_p = min((a_p·h + b_p) mod P)
#: over shingle hashes h.  P = 2^31-1 keeps every product < 2^62 (no 64-bit overflow).
_MH_PRIME = (1 << 31) - 1
_MH_A = [(17 * (p + 1) ** 2 + 3 * (p + 1) + 1) % _MH_PRIME for p in range(N_PERM)]
_MH_B = [(31 * (p + 1) ** 3 + 7) % _MH_PRIME for p in range(N_PERM)]


#: oracle-side shingle hash (the same ``h60`` mod ``_MH_PRIME`` as
#: ``_hashed_shingle_tokens``)
_SHINGLE_HASHES_DUCK = (f"list_transform(shingles, s -> "
                        f"{h60_sql('s', mod=_MH_PRIME)})")



def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, s)``: each doc's DISTINCT word-3-shingle strings, one row per
    shingle.

    Why not the array pipeline: higher-order-function lambdas (``transform``
    with concat_ws / md5 per element) run on Catalyst's INTERPRETED expression
    path — measured ~50µs per shingle, 23s for 260k shingles at sf0.1 — and
    the scan-side projection executes inside the single input split of a
    one-file parquet table, so it cannot even parallelize.  Here the trigram
    is built with codegen-only operators: ``posexplode`` the token stream,
    ``lead(1)/lead(2)`` over the per-doc window (whose shuffle also
    redistributes the rows across the cluster), ``concat_ws`` as a top-level
    vectorized projection, then one distinct.  Same shingles (pinned by the
    unchanged string-based DuckDB oracles)."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        docs.select("doc_id", F.posexplode(
            F.split(F.lower(F.col("text")), WS_RE)).alias("pos", "w"))
        .withColumn("w1", F.lead("w", 1).over(w))
        .withColumn("w2", F.lead("w", 2).over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("s"))
        .dropDuplicates(["doc_id", "s"])
    )


def _hash_shingles(shing: DataFrame) -> DataFrame:
    """``(doc_id, s)`` → distinct ``(doc_id, h)``, h = ``h60(s)`` mod
    ``_MH_PRIME`` (same domain as ``_SHINGLE_HASHES_DUCK``)."""
    return (
        shing
        .select("doc_id", h60("s", mod=_MH_PRIME).alias("h"))
        .dropDuplicates(["doc_id", "h"])
    )


def _hashed_shingle_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, h)``: each doc's DISTINCT 31-bit shingle hashes, one row per
    hash — ``_shingle_rows`` pushed through the engine-shared ``h60`` hash as
    a top-level codegen projection (same domain as ``_SHINGLE_HASHES_DUCK``,
    so oracles agree bit-for-bit)."""
    return _hash_shingles(_shingle_rows(spark, sf_dir))


#: prefix filtering is the HIGH-threshold exact path: prefix length is
#: n - ceil(t*n) + 1, so selectivity collapses as t drops (at t=0.3 the prefix
#: is ~0.7n and the 10x scale probe showed candidate blowup).  0.7 keeps the
#: probe's candidate volume output-bound; below it, use dedup_minhash_lsh.
PF_THRESHOLD = 0.7


@declare(
    "dedup_jaccard_prefix_filter",
    oracle=_DUCK_SHINGLE_CTE + f"""
    , hashed AS (
        SELECT doc_id, list_distinct({_SHINGLE_HASHES_DUCK}) AS hs FROM shing
        WHERE len(shingles) > 0
    ),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
    sizes AS (SELECT doc_id, len(hs) AS n FROM hashed),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= {PF_THRESHOLD}
    """,
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard pairs at the HIGH threshold (t=0.7) via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08): sub-
    quadratic candidate generation with exact results and no doc cap — the
    scalable exact tier between the capped all-pairs verifier
    (:func:`dedup_ngram_jaccard`, t=0.3) and approximate MinHash banding.

    Principle: under ANY one global total order of tokens, two sets with
    J >= t share their FIRST common token inside both docs' first
    ``n − ceil(t·n) + 1`` (~0.3·n at t=0.7) tokens, so only those prefix
    tokens enter the self-join.  The order is RARITY-FIRST — ascending
    document frequency, hash tiebreak (the classic AllPairs ordering): rare
    tokens go into prefixes, so per-token join buckets stay near-empty.  The
    r6 hash-ascending variant skipped the df pass but put COMMON tokens in
    prefixes — measured 676× candidate overkill at sf0.1 (173 086 candidate
    pairs for 256 true pairs) and a per-token-frequency-QUADRATIC join on the
    10× probe (198 s).  The df pass is one window count over the exploded
    tokens — linear, one shuffle — and collapses candidates to output-bound.

    Candidates are pruned further by the symmetric length filter
    (min(n) >= t·max(n)) and the PPJoin positional filter: a token at 0-based
    prefix position p leaves at most ``n − p`` tokens that can still overlap,
    and J >= t needs overlap >= t/(1+t)·(n_a+n_b), so
    ``min(n_a − p_a, n_b − p_b)`` below that bound cannot be a true pair's
    FIRST common token (candidate filters are conservative-weak by an epsilon
    — extra candidates die in exact verification; missing one would be
    wrong).  Verify is one ``array_intersect`` over the hash-sorted int64
    arrays per deduped candidate pair; intersection size is order-independent
    so verification keeps the cheap hash-sorted arrays.  Hashes live in the
    MinHash path's 31-bit shingle-hash domain (`_SHINGLE_HASHES_*`); the
    oracle hashes identically, so both engines agree bit-for-bit regardless
    of collisions, and fixture-level agreement with the raw-string verifier
    is pinned by tests/test_corpus_ops.py.

    Threshold contract: prefix length n − ceil(t·n) + 1 means selectivity
    COLLAPSES as t drops (t=0.3 ⇒ ~0.7·n prefixes ⇒ candidate blowup).
    t=0.7 is the supported regime; for lower thresholds the banded MinHash
    path is strictly better.

    Scale shape: parallel scan-side shingle→hash→sort (repartitioned before
    the heavy projection; the identical exchange subtree under the prefix and
    both verify branches is computed once per execution via ReuseExchange,
    no session-level cache) → df window (shuffle on hash) → per-doc prefix
    re-agg (shuffle on doc_id) → prefix self-join (shuffle on hash, rare
    tokens only) → pair dedup → verify join on doc ids.  All stages linear in
    input + output; candidate growth is output-bound (scale probe,
    SCALING.md)."""
    t = PF_THRESHOLD
    toks = _hashed_shingle_tokens(spark, sf_dir)
    # rarity-first global order: (document frequency asc, hash asc) — df is a
    # function of the token, so the order is one consistent total order
    ranked = toks.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("h")))
    docagg = (
        ranked.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("ord"))
        .withColumn("n", F.size("ord"))
        # verification arrays stay hash-sorted (intersection size is order-
        # independent); only the PREFIX uses the rarity order
        .withColumn("hs", F.array_sort(F.expr("transform(ord, s -> s.h)")))
        .withColumn("pref", F.expr(
            f"transform(slice(ord, 1, cast(n - ceil({t} * n) + 1 as int)),"
            f" s -> s.h)")))
    shing = docagg.select("doc_id", "hs", "n")
    prefix = docagg.select("doc_id", "n",
                           F.posexplode("pref").alias("p", "h"))
    a, b = prefix.alias("a"), prefix.alias("b")
    # required overlap for J >= t (PPJoin): t/(1+t) · (n_a + n_b)
    alpha = F.lit(t / (1.0 + t)) * (F.col("a.n") + F.col("b.n")) - F.lit(1e-9)
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # symmetric length filter: J >= t requires min(n) >= t·max(n)
               & (F.least("a.n", "b.n")
                  >= F.lit(t) * F.greatest("a.n", "b.n") - F.lit(1e-9))
               # positional filter: remaining tokens must reach α
               & (F.least(F.col("a.n") - F.col("a.p"),
                          F.col("b.n") - F.col("b.p")) >= alpha))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = shing.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"),
                      F.col("n").alias("n_a"))
    sb = shing.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"),
                      F.col("n").alias("n_b"))
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= PF_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )



_MINHASH_SIG_DUCK = "list_value(" + ", ".join(
    f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MH_PRIME}))"
    for a, b in zip(_MH_A, _MH_B)) + ")"


#: the MinHash candidate+verify pipeline as reusable DuckDB CTEs (ends at
#: ``verified`` with the jaccard precomputed) — shared by the pair query and the
#: connected-components clustering oracle
_MINHASH_CTES_DUCK = _DUCK_SHINGLE_CTE + f"""
    , hashed AS (
        SELECT doc_id, shingles, {_SHINGLE_HASHES_DUCK} AS hs
        FROM shing WHERE len(shingles) > 0
    ), sig AS (
        SELECT doc_id, shingles, {_MINHASH_SIG_DUCK} AS mh
        FROM hashed
    ), bands AS (
        SELECT doc_id, b AS band_idx,
               md5(mh[{ROWS_PER_BAND}*b + 1]::VARCHAR || '|'
                   || mh[{ROWS_PER_BAND}*b + 2]::VARCHAR) AS band_hash
        FROM sig, unnest(range(0, {N_BANDS})) AS t(b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.shingles, sb.shingles))
                   / (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))) AS jacc
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
    )
"""


@declare(
    "dedup_minhash_lsh",
    oracle=_MINHASH_CTES_DUCK + f"""
    SELECT doc_a, doc_b, ROUND(jacc, 6) AS jaccard
    FROM verified
    WHERE jacc >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, the 100 TB scale path:

    1. per-row signature: 32 deterministic md5-minhashes over the shingle set
       (pure array expressions — zero shuffle, codegen'd),
    2. banding: 16 bands × 2 rows; docs agreeing on a whole band become candidates —
       the only shuffle is the band-key self-join,
    3. exact-Jaccard verification of candidates via array_intersect.

    Deterministic permutations (md5-keyed) make the operator reproducible across runs
    and engines — verified bit-for-bit against the DuckDB oracle."""
    return _minhash_pairs(spark, sf_dir)


def _mh_band_rows(spark: SparkSession, sf_dir: str,
                  shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, band_idx, band_hash): every document's LSH band keys.

    32 affine min-hashes as plain codegen'd MIN aggregates over the exploded
    distinct shingle-hash rows — the array-lambda variant
    (array_min(transform(hs, ...)) × 32) runs interpreted per element and
    was the corpus's hidden hot spot once cold timings stopped hitting the
    subplan cache.  min over the same set, bit-identical signatures.
    Shared by the within-corpus pair generator and the train-vs-eval
    decontamination tier.  ``shingles`` lets a caller that ALSO consumes the
    raw shingle strings (the pair verifier) pass one shared relation so the
    document scan → explode → shingle window runs once, not per consumer."""
    toks = (_hash_shingles(shingles) if shingles is not None
            else _hashed_shingle_tokens(spark, sf_dir))
    sig = (
        toks.groupBy("doc_id")
        .agg(*[F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME))
               .alias(f"mh{p}")
               for p, (a, b) in enumerate(zip(_MH_A, _MH_B))])
        .select("doc_id",
                F.array(*[f"mh{p}" for p in range(N_PERM)]).alias("mh"))
    )
    # band_hash = md5(mh[2b] || '|' || mh[2b+1])  (Spark arrays are 0-based)
    return sig.select(
        "doc_id",
        F.explode(F.expr(f"""
            transform(sequence(0, {N_BANDS - 1}),
                      b -> struct(b AS band_idx,
                                  md5(concat_ws('|', mh[{ROWS_PER_BAND}*b],
                                                     mh[{ROWS_PER_BAND}*b + 1])) AS band_hash))
        """)).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_hash")


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shared shingle relation (tracked operator cache): the band chain and
    # the verify chain each need the full shingle set, and Catalyst does not
    # dedupe the two identical scan → explode → window subtrees — uncached,
    # the document tokenization ran twice per invocation
    shing = memo.cached(_shingle_rows(spark, sf_dir))
    bands = _mh_band_rows(spark, sf_dir, shingles=shing)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # the shingle-bearing side must NEVER broadcast: it is corpus-sized (every
    # doc's shingle set) and AQE's size estimate under a cache is unreliable —
    # at 10x fixture scale the auto-chosen broadcast OOMed the driver
    # (tools/scale_probe.py).  Pin the scale-correct strategy: shuffle hash
    # join on the high-cardinality doc_id keys.
    strs = (shing.groupBy("doc_id")
            .agg(F.collect_list("s").alias("shingles")))
    sa = strs.select(F.col("doc_id").alias("da"), F.col("shingles").alias("sha")) \
        .hint("shuffle_hash")
    sb = strs.select(F.col("doc_id").alias("db"), F.col("shingles").alias("shb")) \
        .hint("shuffle_hash")
    verified = (
        cand.join(sa, F.col("doc_a") == F.col("da"))
        .join(sb, F.col("doc_b") == F.col("db"))
        .withColumn("n_common", F.size(F.array_intersect("sha", "shb")))
        .withColumn("na", F.size("sha"))
        .withColumn("nb", F.size("shb"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        verified.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the MinHash pair graph
# ---------------------------------------------------------------------------

#: convergence backstop; star contraction halves long chains every round, so this
#: covers diameters far beyond any real near-dup graph (2^25 ≫ corpus size)
_CC_MAX_ITERS = 25


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iters: int = _CC_MAX_ITERS) -> tuple[DataFrame, int]:
    """Distributed connected components by alternating **large-star / small-star**
    rounds (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round every node links its larger neighbors (large-star), then
    its smaller neighbors plus itself (small-star), to the minimum of its
    neighborhood.  The edge set contracts to stars rooted at each component's
    minimum id in O(log diameter) rounds — unlike plain min-label propagation,
    whose O(diameter) rounds silently exhaust any iteration cap on a long chain.

    ``nodes``: one ``doc_id`` per vertex (isolated vertices become their own
    component).  ``edges``: undirected ``(src, dst)`` pairs, any orientation.
    Returns ``(labels, rounds)`` where labels is ``(doc_id, component)``.

    Scale shape: each half-round is one groupBy + one join-back on the current
    edge set — 2 key-shuffles over data that only shrinks; ``localCheckpoint``
    truncates lineage per round.  Convergence is detected from a per-round
    (count, hash-sum) digest — a driver-side scalar (S15-class), not a data
    collect — observed DURING the checkpoint's materialization job
    (``Observation`` + ``CollectMetrics``), so each round costs exactly one
    Spark action instead of checkpoint + a separate digest scan.  Raises
    ``RuntimeError`` if the cap is hit before the edge set is stable:
    unconverged labels are wrong labels, and must never be returned
    silently."""
    from pyspark.sql import Observation

    def checkpoint_with_digest(df: DataFrame):
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64("u", "v")).alias("h")
                         ).localCheckpoint()
        m = obs.get  # metrics fired by the checkpoint job — no extra action
        return out, (m["n"], m["h"])

    e, prev = checkpoint_with_digest(
        edges.select(F.greatest("src", "dst").alias("u"),
                     F.least("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct())
    rounds = 0
    converged = prev[0] == 0
    while not converged and rounds < max_iters:
        rounds += 1
        # large-star: strictly-larger neighbors → min of the full neighborhood
        nbrs = (e.select(F.col("u").alias("a"), F.col("v").alias("b"))
                .unionByName(e.select(F.col("v").alias("a"), F.col("u").alias("b"))))
        mins = (nbrs.groupBy("a").agg(F.min("b").alias("mn"))
                .select("a", F.least("a", "mn").alias("m")))
        large = (nbrs.join(mins, "a")
                 .filter(F.col("b") > F.col("a"))
                 .select(F.greatest("b", "m").alias("u"), F.least("b", "m").alias("v"))
                 .filter(F.col("u") != F.col("v")).distinct())
        # small-star: orient (u > v); smaller neighbors and u itself → min
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small, cur = checkpoint_with_digest(
            large.join(m2, "u")
            .select(F.col("v").alias("x"), "m")
            .filter(F.col("x") != F.col("m"))
            .unionByName(m2.select(F.col("u").alias("x"), "m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct())
        converged = cur == prev
        prev, e = cur, small
    if not converged:
        raise RuntimeError(
            f"connected_components: edge set still changing after {max_iters} "
            f"rounds — refusing to return unconverged (wrong) labels")
    labels = (nodes.join(e.select(F.col("u").alias("doc_id"),
                                  F.col("v").alias("component")),
                         "doc_id", "left")
              .select("doc_id",
                      F.coalesce("component", "doc_id").alias("component")))
    return labels, rounds


@declare(
    "dedup_components",
    oracle="WITH RECURSIVE" + _MINHASH_CTES_DUCK.lstrip().removeprefix("WITH") + f"""
    , pairs AS (SELECT doc_a, doc_b FROM verified WHERE jacc >= {JACCARD_THRESHOLD})
    , edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs)
    , walk AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup **clustering**: assign every document the minimum doc_id reachable
    through the MinHash near-dup pair graph — the canonical-representative step that
    turns pairwise dedup output into keep/drop decisions (keep ⇔ doc_id = component).

    Implementation: :func:`connected_components` — alternating large-star /
    small-star contraction (Kiveris et al.), O(log diameter) rounds of 2
    key-shuffles each, raising rather than returning unconverged labels.
    Near-dup graphs are short-diameter almost by construction (clusters are
    quasi-cliques); the star contraction ALSO survives the adversarial
    long-chain case that defeats plain min-label propagation
    (tests/test_components.py pins both).

    Oracle: DuckDB recursive CTE computing min reachable label over the same
    (bit-identical) MinHash edge set."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    labels, _rounds = connected_components(
        nodes, pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
    return labels


# ---------------------------------------------------------------------------
# SimHash near-dup (bit-signature + Hamming banding)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60          # 15 hex chars of md5 → fits a signed 64-bit long
SIMHASH_BANDS = 4          # 4 bands × 15 bits; candidates share ≥1 full band
SIMHASH_MAX_HAMMING = 3    # verify step keeps pairs within this radius


_SIG_SPARK = f"""
    aggregate(sequence(0, {SIMHASH_BITS - 1}), cast(0 as bigint), (acc, b) ->
        acc + IF(aggregate(hashes, 0, (a, h) ->
                     a + IF(((h >> b) & 1) = 1, 1, -1)) > 0,
                 shiftleft(cast(1 as bigint), b), cast(0 as bigint)))
"""

_SIG_DUCK = f"""
    list_reduce(list_transform(range(0, {SIMHASH_BITS}), b ->
        CASE WHEN list_reduce(list_transform(hashes, h ->
                      CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END),
                  (x, y) -> x + y) > 0
             THEN (1::BIGINT << b) ELSE 0::BIGINT END),
        (x, y) -> x + y)
"""

_BAND_MASK = (1 << 15) - 1


@declare(
    "dedup_simhash",
    oracle=f"""
    WITH tokd AS (
        SELECT doc_id,
               list_transform(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                              t -> {h60_sql('t')}) AS hashes
        FROM documents
        WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
    ),
    sigs AS (SELECT doc_id, {_SIG_DUCK} AS sig FROM tokd),
    bands AS (
        SELECT doc_id, sig, b AS band_idx, (sig >> (b * 15)) & {_BAND_MASK} AS band_val
        FROM sigs, unnest(range(0, {SIMHASH_BANDS})) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit majority-vote signature over token hashes, banded into
    4×15-bit LSH keys, Hamming-verified.  All JVM-side higher-order functions — the
    signature is one narrow projection, banding explodes exactly 4 rows per doc, and
    the candidate join shuffles on the band key (tiny vs all-pairs).  At 100 TB the
    band join is the only shuffle and self-joins only within equal 15-bit buckets."""
    docs = load_table(spark, sf_dir, "documents")
    # signature via explode → codegen'd hash aggregate (higher-order lambdas are
    # interpreted in Spark — 60 plain bit-test sums stay in WholeStageCodegen)
    hashes = docs.select(
        "doc_id", F.explode(F.array_distinct(words())).alias("t"),
    ).select("doc_id", h60("t").alias("h"))
    votes = hashes.groupBy("doc_id").agg(*[
        F.sum(F.expr(f"IF(((h >> {b}) & 1) = 1, 1, -1)")).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ])
    sig_expr = " + ".join(
        f"IF(v{b} > 0, shiftleft(cast(1 as bigint), {b}), cast(0 as bigint))"
        for b in range(SIMHASH_BITS))
    sigs = votes.select("doc_id", F.expr(sig_expr).alias("sig"))
    bands = sigs.select(
        "doc_id", "sig",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band_idx"),
    ).withColumn("band_val",
                 F.expr(f"(sig >> (band_idx * 15)) & {_BAND_MASK}"))
    a, b = bands.alias("a"), bands.alias("b")
    # sig rides along the band join → Hamming verify needs no extra joins
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.expr("cast(bit_count(a.sig ^ b.sig) as int)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

COS_THRESHOLD = 0.40

_COS_DUCK = """
    list_reduce(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]),
                (x, y) -> x + y) / (a.nrm * b.nrm)
"""

_EMB_DUCK_CTE = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
               WHERE {EMB_VALID_SQL}),
    n AS (SELECT vec_id, emb, label,
                 sqrt(list_reduce(list_transform(emb, x -> x * x), (x, y) -> x + y))
                     AS nrm
          FROM v)
"""


def _round6_half_away(sims):
    """Round to 6 decimals half-AWAY-from-zero — the semantics of both
    ``F.round(..., 6)`` (which these numpy paths replaced) and the DuckDB
    ``ROUND`` oracle.  ``np.round`` is half-to-even, so a cosine landing exactly
    on a .5 at the 6th decimal would diverge from the oracle by 1e-6."""
    import numpy as np

    return np.where(sims >= 0,
                    np.floor(sims * 1e6 + 0.5),
                    np.ceil(sims * 1e6 - 0.5)) / 1e6


#: Per-block size guard for the blocked verifier: a block this hot means the
#: hyperplane partitioner is too coarse for the data's duplicate structure —
#: add hyperplanes (finer blocks) rather than letting one executor build an
#: unbounded matrix.  200k × 64 float64 ≈ 100 MB per block, comfortably in
#: executor memory.
BLOCK_MAX_ROWS = 200_000


def _emb_pairs(spark: SparkSession, sf_dir: str, blocked: bool) -> DataFrame:
    if not blocked:
        return _emb_pairs_broadcast_matmul(spark, sf_dir)
    import numpy as np
    import pandas as pd

    from alertas_spark.operators.simsearch import _bucket_expr

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .withColumn("block", F.expr(_bucket_expr(one_based=False)))
    )

    # Within-block verification as ONE grouped Arrow batch per block: normalize
    # rows, one BLAS matmul, threshold the upper triangle.  Replaces the earlier
    # within-block self-join whose per-candidate interpreted `aggregate(zip_with)`
    # dot made verify cost ~1.5 ms/pair (tools/scale_probe.py, 10x run) — the
    # matmul is the same arithmetic the exact verifier already proves
    # oracle-equal at round-6.  Plan: one shuffle on the block key, no pair
    # relation ever materialized before thresholding.
    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > BLOCK_MAX_ROWS:
            raise ValueError(
                f"embedding block holds {len(pdf)} rows (> {BLOCK_MAX_ROWS}); "
                "the hyperplane partitioner is too coarse for this duplicate "
                "structure — raise the hyperplane count for finer blocks")
        pdf = pdf[pdf["emb"].notna()]            # embgate: NULL vectors out
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["emb"]])
        keep = np_valid_mask(m)                  # embgate, inside the batch
        ids, m = ids[keep], m[keep]
        if len(ids) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m_n @ m_n.T
        ri, ci = np.where(sims >= COS_THRESHOLD)
        keep = ids[ri] < ids[ci]
        return pd.DataFrame({
            "vec_a": ids[ri[keep]],
            "vec_b": ids[ci[keep]],
            "cos_sim": _round6_half_away(sims[ri[keep], ci[keep]]),
        })

    return emb.groupBy("block").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cos_sim double")


#: Hard cap on the broadcast side of the exact all-pairs verifier: 200k × 64-dim
#: float64 ≈ 100 MB on the driver.  Past this, the O(n²) exact path is the wrong
#: tool anyway — fail fast and point at the blocked variant.
EXACT_PAIRS_MAX_ROWS = 200_000


def _emb_pairs_broadcast_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine via broadcast matrix × partition-block numpy matmuls
    (``mapInPandas``): each executor multiplies its Arrow batch against the full
    normalized matrix at BLAS speed — no pair join materialized.  Valid while one
    side fits in executor memory (here trivially; at 100 TB use the blocked variant
    or shard the broadcast).  Summation order differs from the sequential-fold
    oracle only below round-off (asserted across all sf dirs in CI)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    # Bounded driver pull (≙ S15 scalar-pull pattern, made size-safe): LIMIT rides
    # into the scan, so even against a 100 TB table the driver materializes at most
    # CAP+1 rows — then fails fast instead of OOMing.
    rows = emb.limit(EXACT_PAIRS_MAX_ROWS + 1).collect()
    if len(rows) > EXACT_PAIRS_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding_cosine is the exact O(n²) verification path and caps at "
            f"{EXACT_PAIRS_MAX_ROWS} rows; use dedup_embedding_cosine_blocked (or an "
            f"explicit sample) at this scale.")
    rows = [r for r in rows if r.emb is not None]    # embgate: NULLs out
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r.emb, dtype=np.float64) for r in rows])
    keep = np_valid_mask(mat)                        # embgate, driver side
    ids, mat = ids[keep], mat[keep]
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat_n))

    def gen(batches):
        all_ids, m = bc.value
        for pdf in batches:
            pdf = pdf[pdf["emb"].notna()]            # embgate: NULLs out
            if not len(pdf):
                continue
            v = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["emb"]])
            kp = np_valid_mask(v)                    # embgate, inside the batch
            pdf, v = pdf[kp], v[kp]
            if not len(pdf):
                continue
            v_n = v / np.linalg.norm(v, axis=1, keepdims=True)
            sims = v_n @ m.T
            my_ids = pdf["vec_id"].to_numpy()
            ri, ci = np.where(sims >= COS_THRESHOLD)
            keep = my_ids[ri] < all_ids[ci]
            yield pd.DataFrame({
                "vec_a": my_ids[ri[keep]],
                "vec_b": all_ids[ci[keep]],
                "cos_sim": _round6_half_away(sims[ri[keep], ci[keep]]),
            })

    return emb.mapInPandas(gen, "vec_a long, vec_b long, cos_sim double")


@declare(
    "dedup_embedding_cosine",
    oracle=f"""
    {_EMB_DUCK_CTE}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_COS_DUCK}, 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_COS_DUCK} >= {COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup over all pairs — the verification path
    (sequential double folds → bit-identical across engines).  O(n²): run on a sample
    or a bucket at scale; the blocked variant below is the production path."""
    return _emb_pairs(spark, sf_dir, blocked=False)


def _blocked_duck_cte() -> str:
    from alertas_spark.operators.simsearch import _bucket_expr

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE {EMB_VALID_SQL}),
    n AS (SELECT vec_id, emb, {_bucket_expr(one_based=True)} AS block,
                 sqrt(list_reduce(list_transform(emb, x -> x * x), (x, y) -> x + y))
                     AS nrm
          FROM v)
"""


@declare(
    "dedup_embedding_cosine_blocked",
    oracle=f"""
    {_blocked_duck_cte()}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_COS_DUCK}, 6) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id AND a.block = b.block
    WHERE {_COS_DUCK} >= {COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with coarse-cluster blocking: pairs are only scored within
    a block, so the join shuffles on the block key and work scales with Σ block²
    instead of n² — the 100 TB path.  The block is the deterministic hyperplane
    bucket computed IN-PLAN from the raw embedding (same partitioner as the IVF
    similarity search) — no precomputed assignment column required."""
    return _emb_pairs(spark, sf_dir, blocked=True)


# ---------------------------------------------------------------------------
# Corpus-level line dedup (RefinedWeb-style repeated-passage removal)
# ---------------------------------------------------------------------------

#: tokens per "line" — the fixture corpus is whitespace text with no newlines, so
#: the line unit is a deterministic re-lining into fixed 8-token spans; on real
#: corpora swap the chunker for ``split(text, '\n')`` and the rest is unchanged
LINE_TOKENS = 8


@declare(
    "dedup_lines",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), idx AS (
        SELECT doc_id, tok,
               unnest(range(0, CAST(ceil(len(tok) / {LINE_TOKENS}.0) AS BIGINT)))
                   AS ord
        FROM toks WHERE len(tok) > 0
    ), lines AS (
        SELECT doc_id, ord,
               array_to_string(tok[ord * {LINE_TOKENS} + 1 :
                                   ord * {LINE_TOKENS} + {LINE_TOKENS}], ' ') AS line
        FROM idx
    ), ranked AS (
        SELECT doc_id, ord, line,
               ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
        FROM lines
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY ord),
                    '') AS text_dedup
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup, keep-first: every repeated line (fixed
    {LINE_TOKENS}-token span) is removed from all but its first occurrence
    (ordered by doc_id, position), and documents are re-assembled from their
    surviving lines — the repeated-passage removal step of web-corpus cleaning
    (boilerplate headers, license blocks, navigation chrome).

    Scale shape: scan-side re-lining explode (no shuffle) → one shuffle on the
    line key for the keep-first window → one shuffle on doc_id for re-assembly.
    The line key is the full line text here for oracle exactness; at 100 TB hash
    it first (xxhash64) so the shuffle carries 8-byte keys, and the window stays
    a 2-pass rank over the line's few occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    lined = (
        docs.withColumn("tok", words())
        .withColumn("n", F.size("tok"))
        .filter(F.col("n") > 0)
        .withColumn("ord", F.explode(F.expr(
            f"sequence(0, cast(ceil(n / {LINE_TOKENS}.0) as int) - 1)")))
        .select(
            "doc_id", "ord",
            F.array_join(F.slice("tok", F.col("ord") * LINE_TOKENS + 1,
                                 LINE_TOKENS), " ").alias("line"),
        )
    )
    w = W.partitionBy("line").orderBy("doc_id", "ord")
    ranked = lined.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("ord", "line"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.sum((F.col("rn") == 1).cast("int")).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["line"]), " ").alias("text_dedup"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new batch vs already-ingested corpus
# ---------------------------------------------------------------------------

#: deterministic corpus split for the declared query: docs whose content-keyed
#: uniform falls under 80% play the "already-ingested corpus"; the rest are the
#: "incoming crawl batch" to be deduped against it
INCR_SPLIT_BP = 8_000
_INCR_MOD = 10_000

_INCR_U_DUCK = h60_sql("CAST(doc_id AS VARCHAR)", "incr:", _INCR_MOD)


@declare(
    "dedup_incremental",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, source, md5(text) AS fp,
               {_INCR_U_DUCK} < {INCR_SPLIT_BP} AS is_existing
        FROM documents
    ), incoming AS (
        SELECT doc_id, source, fp,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM split WHERE NOT is_existing
    )
    SELECT i.doc_id, i.source, i.fp
    FROM incoming i
    WHERE i.rn = 1
      AND NOT EXISTS (SELECT 1 FROM split e
                      WHERE e.is_existing AND e.fp = i.fp)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: the survivors of a new crawl batch after (a)
    keep-first dedup within the batch and (b) an anti join against the
    fingerprints of the already-ingested corpus — how a production pipeline
    dedups each day's crawl against petabytes of history without ever
    re-deduping the history itself.

    Scale shape: both passes key on the 128-bit content fingerprint — the
    within-batch keep-first window and the anti join hash-shuffle on the same
    key, so AQE reuses the exchange; the "existing" side is a fingerprint-only
    projection (16 bytes a row at 100 TB, not the documents).  Skewed
    fingerprints don't exist by construction (md5 of distinct content)."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id", "source", F.md5("text").alias("fp"),
        (h60("doc_id", "incr:", _INCR_MOD) < INCR_SPLIT_BP)
        .alias("is_existing"))
    existing_fps = split.filter("is_existing").select("fp")
    incoming = (
        split.filter(~F.col("is_existing"))
        .withColumn("rn", F.row_number().over(
            W.partitionBy("fp").orderBy("doc_id")))
        .filter(F.col("rn") == 1)
    )
    return (
        incoming.join(existing_fps, "fp", "left_anti")
        .select("doc_id", "source", "fp")
    )


# ---------------------------------------------------------------------------
# Cluster canonicalization — which copy of a near-dup cluster do we keep?
# ---------------------------------------------------------------------------


@declare(
    "dedup_cluster_representative",
    oracle="WITH RECURSIVE" + _MINHASH_CTES_DUCK.lstrip().removeprefix("WITH") + f"""
    , pairs AS (SELECT doc_a, doc_b FROM verified WHERE jacc >= {JACCARD_THRESHOLD})
    , edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs)
    , walk AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    , labels AS (SELECT node AS doc_id, MIN(label) AS component FROM walk
                 GROUP BY node)
    , sized AS (
        SELECT l.component, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY l.component
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY l.component) AS csz
        FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT component, doc_id AS rep_doc_id,
           CAST(csz AS INTEGER) AS cluster_size,
           n_chars AS rep_n_chars
    FROM sized WHERE rk = 1
    """,
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster **canonicalization**: for every near-dup cluster (connected component
    of the MinHash pair graph), pick the single document to keep — the longest copy
    (max ``n_chars``), ties broken by min ``doc_id`` — with the cluster size for
    audit.  This is the decision step between pairwise dedup and the cleaned corpus:
    drop everything whose ``doc_id`` isn't its cluster's ``rep_doc_id``.

    Scale shape: the component labels come from the O(log diameter) star
    contraction (:func:`connected_components`); the representative pick is ONE
    shuffle on the component key serving both window functions (rank and size
    share the partition key, so Spark reuses the exchange and sorts once).
    Near-dup clusters are small quasi-cliques, so no skew — a pathological
    mega-cluster would already have been flagged by the convergence digest.

    Oracle: recursive-CTE reachability labels + the same greatest-n-per-group
    pick in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components(
        docs.select("doc_id"), pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
    sized = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    by_comp = W.partitionBy("component")
    return (
        sized
        .withColumn("rk", F.row_number().over(
            by_comp.orderBy(F.desc("n_chars"), F.asc("doc_id"))))
        .withColumn("cluster_size", F.count(F.lit(1)).over(by_comp).cast("int"))
        .filter(F.col("rk") == 1)
        .select("component", F.col("doc_id").alias("rep_doc_id"),
                "cluster_size", F.col("n_chars").alias("rep_n_chars"))
    )


# ---------------------------------------------------------------------------
# Leakage-safe dataset split — train/val/test at CLUSTER granularity
# ---------------------------------------------------------------------------

#: per-mille split boundaries: bucket < 800 → train, < 900 → val, else test.
SPLIT_TRAIN_PM = 800
SPLIT_VAL_PM = 900
_SPLIT_MOD = 1000
_SPLIT_BUCKET_DUCK = h60_sql("CAST(component AS VARCHAR)", "split:",
                             _SPLIT_MOD)


@declare(
    "split_leakage_safe",
    oracle="WITH RECURSIVE" + _MINHASH_CTES_DUCK.lstrip().removeprefix("WITH") + f"""
    , pairs AS (SELECT doc_a, doc_b FROM verified WHERE jacc >= {JACCARD_THRESHOLD})
    , edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs)
    , walk AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    , labels AS (SELECT node AS doc_id, MIN(label) AS component FROM walk
                 GROUP BY node)
    SELECT doc_id, component,
           CAST({_SPLIT_BUCKET_DUCK} AS BIGINT) AS bucket,
           CASE WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_PM} THEN 'train'
                WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_PM} THEN 'val'
                ELSE 'test' END AS split
    FROM labels
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document is bucketed by
    a content-independent hash of its near-dup CLUSTER label (the connected
    component of the MinHash pair graph), so near-duplicates land in the same
    split by construction — hashing raw doc_ids would scatter a duplicated
    document across train and test, the classic eval-contamination bug this
    operator exists to prevent (same failure class as benchmark
    decontamination, but *within* the corpus).  80/10/10 per-mille
    boundaries; the bucket is ``keys.h60`` of the label, salted with
    ``split:`` so the assignment is independent of every other h60-keyed
    operator (sampling, sharding).

    Scale shape: the component labels are the O(log diameter) star
    contraction (:func:`connected_components`); the split itself is a pure
    scan projection over the label table — no additional shuffle, and the
    assignment is reshard-stable (a re-run over re-partitioned input yields
    byte-identical splits, same contract as ``sample_hash_stratified``).

    Oracle: recursive-CTE reachability labels + the same salted-md5 bucket
    arithmetic in DuckDB."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    labels, _rounds = connected_components(
        nodes, pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
    return (labels
            .withColumn("bucket", h60("component", "split:", _SPLIT_MOD))
            .withColumn("split",
                        F.when(F.col("bucket") < SPLIT_TRAIN_PM, "train")
                        .when(F.col("bucket") < SPLIT_VAL_PM, "val")
                        .otherwise("test"))
            .select("doc_id", "component", "bucket", "split"))


# ---------------------------------------------------------------------------
# MinHash benchmark decontamination — near-dup leakage the exact tiers miss
# ---------------------------------------------------------------------------

#: every MH_DECON_MOD-th document (capped to a fixed id range — benchmarks do
#: not grow with the corpus; the decontaminate_embedding cap lesson) stands in
#: for the eval set.
MH_DECON_MOD = 13
MH_DECON_EVAL_CAP = 5000

#: verification threshold: lower than the within-corpus dedup cut (0.3 ≙
#: JACCARD_THRESHOLD) is not needed — decontamination wants PARAPHRASE-level
#: overlap, and the 16×2 banding's collision probability at j=0.5 is
#: 1 − (1 − 0.25)^16 ≈ 0.99, so recall at the cut is near-exhaustive.
MH_DECON_TAU = 0.5

_MH_DECON_EVAL = (f"doc_id % {MH_DECON_MOD} = 0 "
                  f"AND doc_id < {MH_DECON_EVAL_CAP}")


@declare(
    "decontaminate_minhash",
    oracle=_DUCK_SHINGLE_CTE + f"""
    , hashed AS (
        SELECT doc_id, shingles, {_SHINGLE_HASHES_DUCK} AS hs
        FROM shing WHERE len(shingles) > 0
    ), sig AS (
        SELECT doc_id, shingles, {_MINHASH_SIG_DUCK} AS mh
        FROM hashed
    ), bands AS (
        SELECT doc_id, b AS band_idx,
               md5(mh[{ROWS_PER_BAND}*b + 1]::VARCHAR || '|'
                   || mh[{ROWS_PER_BAND}*b + 2]::VARCHAR) AS band_hash
        FROM sig, unnest(range(0, {N_BANDS})) AS t(b)
    ), eb AS (
        SELECT doc_id AS eval_id, band_idx, band_hash FROM bands
        WHERE {_MH_DECON_EVAL}
    ), tb AS (
        SELECT doc_id, band_idx, band_hash FROM bands
        WHERE NOT ({_MH_DECON_EVAL})
    ), cand AS (
        SELECT DISTINCT t.doc_id, e.eval_id
        FROM tb t JOIN eb e USING (band_idx, band_hash)
    ), ver AS (
        SELECT c.doc_id, c.eval_id,
               len(list_intersect(st.shingles, se.shingles))
                   / (len(st.shingles) + len(se.shingles)
                      - len(list_intersect(st.shingles, se.shingles))) AS jacc
        FROM cand c
        JOIN sig st ON st.doc_id = c.doc_id
        JOIN sig se ON se.doc_id = c.eval_id
    )
    SELECT doc_id, eval_id, ROUND(jacc, 6) AS jaccard
    FROM ver WHERE jacc >= {MH_DECON_TAU}
    """,
)
def decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by NEAR-duplicate match — the tier between
    the exact n-gram screen (``decontaminate_overlap`` / the bloom pair) and
    the embedding sweep (``decontaminate_embedding``): published corpus
    reports flag training documents whose MinHash signature collides with an
    eval document and whose verified Jaccard clears a paraphrase-level cut —
    catching edited/reflowed eval leakage that exact 5-grams miss without
    paying the semantic tier's vector cost.  Output: every verified
    (training doc, eval doc, jaccard) contamination pair.

    Scale shape: the eval side is benchmark-sized by nature (capped stand-in
    — the ``decontaminate_embedding`` cap lesson) so its band keys BROADCAST;
    the 100 TB training side streams through one broadcast join of its band
    rows with zero shuffle of the big side, and only verified candidates pay
    the shingle-array Jaccard (shuffle-hash joined on doc keys — the
    corpus-sized shingle side must never broadcast, the ``_minhash_pairs``
    OOM lesson)."""
    bands = _mh_band_rows(spark, sf_dir)
    is_eval = ((F.col("doc_id") % MH_DECON_MOD == 0)
               & (F.col("doc_id") < MH_DECON_EVAL_CAP))
    eb = (bands.filter(is_eval)
          .select(F.col("doc_id").alias("eval_id"), "band_idx", "band_hash"))
    tb = bands.filter(~is_eval)
    cand = (tb.join(F.broadcast(eb), ["band_idx", "band_hash"])
            .select("doc_id", "eval_id").distinct())
    strs = (_shingle_rows(spark, sf_dir).groupBy("doc_id")
            .agg(F.collect_list("s").alias("shingles")))
    st = strs.select(F.col("doc_id").alias("td"),
                     F.col("shingles").alias("sht")).hint("shuffle_hash")
    se = strs.select(F.col("doc_id").alias("ed"),
                     F.col("shingles").alias("she")).hint("shuffle_hash")
    n_common = F.size(F.array_intersect("sht", "she"))
    jac = n_common / (F.size("sht") + F.size("she") - n_common)
    return (cand
            .join(st, F.col("doc_id") == F.col("td"))
            .join(se, F.col("eval_id") == F.col("ed"))
            .filter(jac >= MH_DECON_TAU)
            .select("doc_id", "eval_id", F.round(jac, 6).alias("jaccard")))
