"""Similarity search over an embedding column (``array<float>``).

* **brute-force top-k** — broadcast the (small) query set against all candidates;
  cosine computed with sequential array folds so the result is bit-identical across
  engines and partitionings.  At 100 TB this is the *verification* path.
* **IVF top-k** — candidates pruned to the query's coarse partition (here the ``label``
  column plays the role of a precomputed IVF centroid assignment).  The join key is the
  partition id, so Spark shuffles each query only to its bucket — the scale path
  (probe-1 IVF; multi-probe = OR more labels in the join key).

Dot products are ``zip_with`` + ``aggregate`` higher-order functions, JVM-side.  Every
exact-cosine tier reads one gated scan (:func:`_corpus`) and scores and ranks through
one function (:func:`cosine_topk`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.embgate import EMB_VALID_SQL, norm2, valid_nrm
from alertas_spark.operators.topk import ranked_topk
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — order-deterministic (bit-equal to the
    DuckDB oracle's list_reduce)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


_DUCK_DOT = ("list_reduce(list_transform(range(1, len({a}) + 1), "
             "i -> {a}[i] * {b}[i]), (x, y) -> x + y)")
_DUCK_NORM2 = "list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y)"


def _duck_topk_sql(same_label: bool) -> str:
    label_cond = "AND q.label = c.label" if same_label else ""
    dot = _DUCK_DOT.format(a="q.emb", b="c.emb")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings WHERE {EMB_VALID_SQL}),
    q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, emb, label,
                 sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM v),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {dot} / (qn.nrm * c.nrm) AS cos
        FROM q
        JOIN c  ON q.vec_id <> c.vec_id {label_cond}
        JOIN (SELECT vec_id, sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM v) qn
          ON qn.vec_id = q.vec_id
    ), ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, ROUND(cos, 6) AS score
    FROM ranked WHERE rnk <= {TOP_K}
    """


def _corpus(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """``(vec_id, emb, nrm, *cols)``: the valid embeddings as doubles with their
    L2 norm — the one gated scan every exact-cosine tier, the hamming tier and
    the CLIP gate read.  The gate is free off the norm fold (embgate)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"),
                *cols)
        .withColumn("nrm", F.sqrt(norm2(F.col("emb"))))
        .filter(valid_nrm(F.col("nrm")))
        .select("vec_id", "emb", "nrm", *cols)
    )


def _cosine(a: str, an: str, b: str, bn: str) -> Column:
    """``a·b / (‖a‖·‖b‖)`` from the sequential-fold dot and precomputed norms —
    the one cosine expression (bit-equal to the oracles' ``_DUCK_DOT`` form)."""
    return _dot(F.col(a), F.col(b)) / (F.col(an) * F.col(bn))


def cosine_topk(corpus: DataFrame, queries: DataFrame, on: Column | None,
                key: str = "query_id", tie: str = "vec_id",
                k: int = TOP_K) -> DataFrame:
    """``(key, tie, cos, rnk)``: the ``k`` best pairs per ``key`` of
    ``corpus`` ``(vec_id, emb, nrm, ..)`` joined on ``on`` (``None``: every
    pair) with the broadcast ``queries`` ``(.., qemb, qnrm, ..)``, by exact
    cosine, ties to the lowest ``tie`` — ranked by the two-phase exact top-k
    (operators/topk.py), never a full sort in ``n_keys`` tasks.  The one
    score-and-rank step of the exact-cosine family: the tiers of
    :func:`_topk_shape` and ``decontaminate_embedding``."""
    scored = corpus.join(F.broadcast(queries), on).select(
        key, tie, _cosine("qemb", "qnrm", "emb", "nrm").alias("cos"))
    return ranked_topk(scored, key, "cos", tie, k, ascending=False)


def _topk_shape(v: DataFrame, *qcols: Column,
                prune: Column | None = None) -> DataFrame:
    """:func:`cosine_topk` of ``v``'s ``N_QUERIES`` query rows (carrying
    ``qcols``) over the rows of ``v`` that pass ``prune`` — a query never
    matches itself — in the declared top-k result shape.  Callers:
    ``simsearch_topk_bruteforce`` / ``_ivf`` (``_spark_topk``),
    ``_multiprobe``, ``_ivf_assigned`` and
    ``kmeans.simsearch_topk_ivf_trained``."""
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"), *qcols)
    on = F.col("query_id") != F.col("vec_id")
    return (
        cosine_topk(v, q, on if prune is None else on & prune)
        .select(
            "query_id", F.col("vec_id").alias("cand_id"),
            F.col("rnk").cast("int").alias("rnk"), F.round("cos", 6).alias("score"),
        )
    )


def _spark_topk(spark: SparkSession, sf_dir: str, same_label: bool) -> DataFrame:
    # IVF probe: only the query's coarse bucket is scanned.
    return _topk_shape(_corpus(spark, sf_dir, "label"),
                       F.col("label").alias("qlabel"),
                       prune=F.col("qlabel") == F.col("label") if same_label else None)


@declare("simsearch_topk_bruteforce", oracle=_duck_topk_sql(same_label=False))
def simsearch_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × all candidates, two-phase top-k.
    Exact baseline for ANN variants."""
    return _spark_topk(spark, sf_dir, same_label=False)


@declare("simsearch_topk_ivf", oracle=_duck_topk_sql(same_label=True))
def simsearch_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine top-k: candidates restricted to the query's coarse partition
    (``label`` ≙ nearest-centroid assignment).  Scans 1/|partitions| of the corpus —
    the approximate-NN scale path."""
    return _spark_topk(spark, sf_dir, same_label=True)


# ---------------------------------------------------------------------------
# IVF with the coarse assignment computed from raw embeddings
# ---------------------------------------------------------------------------
#
# Deterministic random-hyperplane partitioner: IVF_PLANES seeded Gaussian
# hyperplanes; bucket = the sign-bit code of the embedding against each plane.
# The coefficients are baked in as literals on BOTH engines and every dot product
# is an explicit left-associative sum, so the bucket ids (and therefore the pruned
# candidate sets) are bit-identical between Spark and the DuckDB oracle.  Unlike
# kmeans this needs no training pass — assignment is a pure scan-projection, zero
# shuffles, which is exactly what you want ahead of a 100 TB corpus.

IVF_DIM = 64     # embeddings.parquet vector width (TESTDATA.md)
IVF_PLANES = 4   # 2^4 = 16 coarse buckets


def _hyperplanes() -> list[list[float]]:
    import numpy as np

    rs = np.random.RandomState(42)
    return [[float(x) for x in np.round(row, 4)]
            for row in rs.standard_normal((IVF_PLANES, IVF_DIM))]


_PLANES = _hyperplanes()


def _bucket_expr(one_based: bool) -> str:
    """`(sign-bit << p)` summed over planes, as engine-neutral SQL.  Explicit
    left-assoc term sums: whole-stage-codegen'd in Spark (no interpreted HOF on
    the hot path) and bit-equal to DuckDB evaluating the same literal string."""
    idx = (lambda i: i + 1) if one_based else (lambda i: i)
    parts = []
    for p, row in enumerate(_PLANES):
        dot = " + ".join(f"emb[{idx(i)}] * ({c!r})" for i, c in enumerate(row))
        parts.append(f"(CASE WHEN ({dot}) >= 0.0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(parts)


def _duck_topk_assigned_sql() -> str:
    dot = _DUCK_DOT.format(a="q.emb", b="c.emb")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    b AS (SELECT vec_id, emb, {_bucket_expr(one_based=True)} AS bucket FROM v),
    q AS (SELECT * FROM b WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, emb, bucket,
                 sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM b),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {dot} / (qn.nrm * c.nrm) AS cos
        FROM q
        JOIN c  ON q.vec_id <> c.vec_id AND q.bucket = c.bucket
        JOIN (SELECT vec_id, sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM v) qn
          ON qn.vec_id = q.vec_id
    ), ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, ROUND(cos, 6) AS score
    FROM ranked WHERE rnk <= {TOP_K}
    """


def _plane_dot_exprs(one_based: bool) -> list[str]:
    idx = (lambda i: i + 1) if one_based else (lambda i: i)
    return [" + ".join(f"emb[{idx(i)}] * ({c!r})" for i, c in enumerate(row))
            for row in _PLANES]


def _dots_select(one_based: bool) -> str:
    return ", ".join(f"({d}) AS d{p}"
                     for p, d in enumerate(_plane_dot_exprs(one_based)))


#: bucket / weakest-plane from precomputed per-plane dots d0..d3 — identical text on
#: both engines, so branch decisions (sign, argmin with first-wins ties) agree bit-wise
_BUCKET_FROM_DOTS = " + ".join(
    f"(CASE WHEN d{p} >= 0.0 THEN {1 << p} ELSE 0 END)" for p in range(IVF_PLANES))
_WEAK_PLANE = """
    CASE WHEN abs(d0) <= abs(d1) AND abs(d0) <= abs(d2) AND abs(d0) <= abs(d3) THEN 0
         WHEN abs(d1) <= abs(d2) AND abs(d1) <= abs(d3) THEN 1
         WHEN abs(d2) <= abs(d3) THEN 2
         ELSE 3 END
"""


def _duck_topk_multiprobe_sql() -> str:
    dot = _DUCK_DOT.format(a="q.emb", b="c.emb")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    d AS (SELECT vec_id, emb, {_dots_select(one_based=True)} FROM v),
    b AS (SELECT vec_id, emb, {_BUCKET_FROM_DOTS} AS bucket,
                 {_WEAK_PLANE} AS weak FROM d),
    c AS (SELECT vec_id, emb, bucket,
                 sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM b),
    qp AS (SELECT vec_id, emb, unnest([bucket, xor(bucket, 1 << weak)]) AS probe
           FROM b WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT qp.vec_id AS query_id, c.vec_id AS cand_id,
               {dot.replace('q.emb', 'qp.emb')} / (qn.nrm * c.nrm) AS cos
        FROM qp
        JOIN c  ON qp.vec_id <> c.vec_id AND c.bucket = qp.probe
        JOIN (SELECT vec_id, sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM v) qn
          ON qn.vec_id = qp.vec_id
    ), ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, ROUND(cos, 6) AS score
    FROM ranked WHERE rnk <= {TOP_K}
    """


@declare("simsearch_topk_multiprobe", oracle=_duck_topk_multiprobe_sql())
def simsearch_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k (probe-2): each query scans its own hyperplane bucket
    PLUS the bucket with its weakest sign bit flipped — the neighbor most likely to
    hold near misses (Lv et al., multi-probe LSH).  Recall recovers toward brute
    force at 2/2^planes of its cost; the probe expansion is a 2-element explode on
    the (broadcast) query side only, so the candidate table still shuffles once on
    its single bucket key."""
    v = (
        _corpus(spark, sf_dir)
        .selectExpr("vec_id", "emb", "nrm",
                    *[f"({d}) AS d{p}" for p, d
                      in enumerate(_plane_dot_exprs(one_based=False))])
        .withColumn("bucket", F.expr(_BUCKET_FROM_DOTS))
        .withColumn("weak", F.expr(_WEAK_PLANE))
    )
    probes = F.explode(F.array(F.col("bucket"), F.expr("bucket ^ shiftleft(1, weak)")))
    return _topk_shape(v, probes.alias("probe"), prune=F.col("probe") == F.col("bucket"))


@declare("simsearch_topk_ivf_assigned", oracle=_duck_topk_assigned_sql())
def simsearch_topk_ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k starting from RAW embeddings only: the coarse assignment is computed
    in-plan by a deterministic random-hyperplane partitioner (no precomputed ``label``
    column), then candidates are pruned to the query's bucket exactly as in
    ``simsearch_topk_ivf``.  Assignment is a shuffle-free projection; the search
    shuffles only on the bucket key with the query set broadcast."""
    v = _corpus(spark, sf_dir).withColumn(
        "bucket", F.expr(_bucket_expr(one_based=False)))
    return _topk_shape(v, F.col("bucket").alias("qbucket"),
                       prune=F.col("qbucket") == F.col("bucket"))


# ---------------------------------------------------------------------------
# ANN quality evaluation lives in pq.py (simsearch_recall_dashboard): it compares
# EVERY approximate tier — IVF, PQ, PQ+rerank — against the brute-force truth,
# and pq.py is the module that can see all of them.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Binary (sign-quantized) Hamming tier — 1 bit per dimension
# ---------------------------------------------------------------------------

#: 32-bit packing words: dims 1-32 and 33-64.  Two words rather than one
#: 64-bit long because bit 63 is unrepresentable as a positive shift in the
#: oracle engine (BIGINT << 63 overflows there), and the word-array form IS
#: the general design — dim > 64 packs into ceil(dim/32) words.
_HAM_WORDS = ((1, 0), (33, 32))  # (1-based slice start, bit-offset base)

#: Signature build as an interpreted HOF fold — MEASURED against the repo's
#: codegen rule (r12): the codegen'd alternative (posexplode + bit_or hash
#: agg, the fuzzy.py ``_gram_docs`` shape) pays a 64×-row SHUFFLE for its
#: codegen and loses — 0.25 s vs 0.16 s min-of-3 at sf0.1, identical output.
#: The ``_gram_docs`` lesson targets per-element STRING/hash work (~50 µs/
#: element interpreted); this lambda is a float compare + shift (~ns), so
#: scan-side interpretation is the cheaper side of the trade here.
_HAM_SIG_SPARK = (
    "aggregate(zip_with(slice(emb, {start}, 32), sequence(0, 31), "
    "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, v) -> a | v)")

_HAM_SIG_DUCK = (
    "list_reduce(list_transform(range(1, 33), i -> "
    "CASE WHEN emb[i + {off}] > 0 THEN (1::BIGINT << (i - 1)) "
    "ELSE 0::BIGINT END), (x, y) -> x | y)")


@declare(
    "simsearch_topk_hamming",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE {EMB_VALID_SQL}),
    s AS (SELECT vec_id,
                 {_HAM_SIG_DUCK.format(off=0)} AS sig_lo,
                 {_HAM_SIG_DUCK.format(off=32)} AS sig_hi
          FROM v),
    q AS (SELECT vec_id AS query_id, sig_lo AS qlo, sig_hi AS qhi
          FROM s WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, s.vec_id AS cand_id,
               bit_count(xor(q.qlo, s.sig_lo))
                   + bit_count(xor(q.qhi, s.sig_hi)) AS hamming
        FROM q JOIN s ON q.query_id <> s.vec_id
    ), ranked AS (
        SELECT query_id, cand_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           CAST(hamming AS INTEGER) AS hamming
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized top-k: each embedding collapses to one SIGN BIT per
    dimension (packed into 32-bit words), and candidates rank by Hamming
    distance — ``bit_count(xor)`` per word, integer-only, zero float seams.
    This is the coarsest ANN memory tier (64 dims → 8 bytes/vector, a 32×
    compression over float32; random-hyperplane LSH theory makes sign-bit
    Hamming a cosine estimator): cheaper than int8 (embgate) and PQ, the
    candidate-generation stage in binary-then-rerank pipelines.  At corpus
    scale the signature projection is a zero-shuffle scan pass; the scored
    join broadcasts only the packed query signatures (8 bytes × queries),
    XOR/popcount are single codegen'd JVM instructions per word, and the
    exact rank is the two-phase top-k (per-partition shortlists, never a
    full-corpus sort).  NaN/zero-norm vectors are excluded by the embgate
    on BOTH engines — the sign bit of a NaN component is meaningless and
    every other ANN tier applies the same validity gate, so this tier keeps
    the corpus-subset contract consistent (both engines evaluate NaN > 0 as
    TRUE, so this is a semantics choice, not a comparison seam).  Ties in
    Hamming distance (common — the distance is a 0-64 integer) break by
    cand_id, making the top-k a total order."""
    v = (_corpus(spark, sf_dir)
         .select("vec_id",
                 F.expr(_HAM_SIG_SPARK.format(start=1)).alias("sig_lo"),
                 F.expr(_HAM_SIG_SPARK.format(start=33)).alias("sig_hi")))
    q = (v.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("sig_lo").alias("qlo"), F.col("sig_hi").alias("qhi")))
    scored = (v.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
              .withColumn("hamming",
                          F.expr("bit_count(qlo ^ sig_lo) "
                                 "+ bit_count(qhi ^ sig_hi)")))
    return (ranked_topk(scored.select("query_id", "vec_id", "hamming"),
                        "query_id", "hamming", "vec_id", TOP_K,
                        ascending=True)
            .select("query_id", F.col("vec_id").alias("cand_id"),
                    F.col("rnk").cast("int").alias("rnk"),
                    F.col("hamming").cast("int").alias("hamming")))


# ---------------------------------------------------------------------------
# Embedding-space benchmark decontamination
# ---------------------------------------------------------------------------

#: every DECON_MOD-th vector stands in for the benchmark/eval embedding set
#: (same stand-in convention as decontaminate_overlap's n-gram eval split).
DECON_MOD = 50
#: the eval stand-in is additionally CAPPED to a fixed id range: real
#: benchmark sets are fixed-size — they do not grow with the training corpus
#: — so the probe replica (ids shifted far past the cap) grows only the
#: training side and the measured scaling is the production shape (an
#: uncapped modulo slice grew BOTH sides: 100× pair work at the 10× replica,
#: measured 45× time before the cap).
DECON_EVAL_CAP = 5000
#: cosine threshold above which a training vector counts as contaminated —
#: the semantic-dedup cut used when n-gram overlap misses paraphrases.
DECON_TAU = 0.9


@declare(
    "decontaminate_embedding",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE {EMB_VALID_SQL}),
    n AS (SELECT vec_id, emb, sqrt({_DUCK_NORM2.format(a="emb")}) AS nrm FROM v),
    bench AS (SELECT vec_id AS eval_id, emb AS bemb, nrm AS bnrm FROM n
              WHERE vec_id % {DECON_MOD} = 0 AND vec_id < {DECON_EVAL_CAP}),
    train AS (SELECT vec_id, emb, nrm FROM n
              WHERE vec_id % {DECON_MOD} != 0 OR vec_id >= {DECON_EVAL_CAP}),
    scored AS (
        SELECT t.vec_id, b.eval_id,
               {_DUCK_DOT.format(a="t.emb", b="b.bemb")} / (t.nrm * b.bnrm) AS cos
        FROM train t JOIN bench b ON TRUE
    ), ranked AS (
        SELECT vec_id, eval_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, eval_id) AS rnk
        FROM scored
    )
    SELECT vec_id, eval_id, ROUND(cos, 6) AS score,
           CAST(CASE WHEN cos >= {DECON_TAU} THEN 1 ELSE 0 END AS INTEGER)
               AS contaminated
    FROM ranked WHERE rnk = 1
    """,
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in EMBEDDING space — the semantic sibling of
    ``decontaminate_overlap``: an n-gram screen misses paraphrased eval
    leakage, so corpora are additionally swept by nearest-eval-vector cosine
    and vectors above ``DECON_TAU`` are dropped or flagged.  Output: each
    training vector's nearest eval vector (ties by eval_id), its cosine, and
    the contamination flag — the flag is computed from the UNROUNDED cosine
    on both engines (the sequential-fold dot is bit-equal), so the threshold
    is not a float seam.

    Scale shape: the eval set is tiny by nature (benchmarks are thousands of
    rows) — its vectors BROADCAST, the 100 TB training side streams through
    one scan with zero shuffle of the big side (same plan class as the
    brute-force ANN tier at |queries| = |eval|); the top-1-per-vector rank is
    the two-phase exact top-k, never a full-corpus sort.  At billions of
    training vectors × large eval sets, the blocked/IVF tiers
    (``dedup_embedding_cosine_blocked``, ``simsearch_topk_ivf``) are the
    candidate-pruning upgrades — same contract, bucketed candidates."""
    v = _corpus(spark, sf_dir)
    is_eval = ((F.col("vec_id") % DECON_MOD == 0)
               & (F.col("vec_id") < DECON_EVAL_CAP))
    bench = (v.filter(is_eval)
             .select(F.col("vec_id").alias("eval_id"),
                     F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")))
    # cosine_topk folds eval·train (qemb·emb) where the oracle folds
    # train·eval: IEEE products commute, so every cosine is the same bits
    return (cosine_topk(v.filter(~is_eval), bench, None,
                        key="vec_id", tie="eval_id", k=1)
            .select("vec_id", "eval_id", F.round("cos", 6).alias("score"),
                    F.when(F.col("cos") >= DECON_TAU, 1).otherwise(0)
                    .cast("int").alias("contaminated")))
