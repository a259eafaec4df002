"""Bloom-filter benchmark decontamination — the sketch tier above exact overlap.

The Pile / GPT-3-style decontamination at full scale keeps the eval set as a
**Bloom filter of word n-grams**, not as the raw gram set: the filter is a
fixed ``k·m``-bit structure no matter how many benchmarks it absorbs, it
never yields a false NEGATIVE (a contaminated gram always flags), and its
false-positive rate is a closed-form knob.  This module is that tier over the
same n-gram definition as :func:`textops.decontaminate_overlap` (word
5-grams, ``doc_id % DECON_BENCH_MOD == 0`` as the benchmark stand-in),
so the exact tier doubles as the sketch's ground truth.

Representation.  The filter is relational: the DISTINCT ``(probe, pos)`` pairs
set by the benchmark grams under ``k`` independent md5-derived hash functions
— at most ``k·m`` rows **bounded by the bloom geometry, not by the benchmark
size** — broadcast onto the training side.  A gram is "in" the filter iff all
``k`` of its probe positions are present (an inner join that matches ``k``
times).  This is exactly the bit-array membership test, expressed so both
engines evaluate it identically; a deployed 100 TB run would collapse the pair
set into a bitmap (Spark's ``bloom_filter_agg``/``might_contain`` runtime pair
or ``DataFrameStatFunctions.bloomFilter``) — same semantics, same plan shape
(tiny broadcast + stream-side probe), minus the JVM bitset's constant factor.

Scale shape: benchmark side aggregates to ≤ k·m rows map-side; the 100 TB
training side streams through ONE broadcast hash join of its exploded probes
(zero shuffle of the big side) and re-aggregates per gram then per document.
No driver collect, no all-pairs anything.

Reference parity: extension operator (no reference counterpart); first-class
LLM-pipeline surface per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.keys import h60, h60_sql
from alertas_spark.operators.textops import (DECON_BENCH_MOD, _NGRAM_DUCK,
                                             _NGRAM_SPARK, words)
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: bloom geometry — m bits per probe space, k independent hash functions.
#: At the fixture's benchmark size the FP rate is ~(grams·k/m)^k ≈ 0; the
#: false-positive MECHANICS are pinned by tests/test_bloom.py with a tiny m.
BLOOM_M = 1 << 18
BLOOM_K = 3


def _probe_union_duck(src: str) -> str:
    """k probe rows per gram: (doc_id, g, probe, pos) UNION ALL chain."""
    return " UNION ALL ".join(
        f"SELECT doc_id, g, {i} AS probe, {h60_sql('g', f'bl{i}:', BLOOM_M)}"
        f" AS pos FROM {src}"
        for i in range(BLOOM_K))


#: shared oracle front half ending in ``hits(doc_id, g)`` — training grams the
#: bloom filter flags (all k probe positions present in the benchmark's set).
_BLOOM_HITS_CTES = f"""tokd AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
        FROM documents
    ), grams AS (
        SELECT doc_id, unnest({_NGRAM_DUCK}) AS g FROM tokd
    ), bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {DECON_BENCH_MOD} = 0),
    benchd AS (SELECT 0 AS doc_id, g FROM bench),
    filt AS (
        SELECT DISTINCT probe, pos
        FROM ({_probe_union_duck('benchd')})
    ), probes AS (
        {_probe_union_duck(f'(SELECT doc_id, g FROM grams '
                           f'WHERE doc_id % {DECON_BENCH_MOD} != 0)')}
    ), hits AS (
        SELECT p.doc_id, p.g
        FROM probes p JOIN filt f ON p.probe = f.probe AND p.pos = f.pos
        GROUP BY p.doc_id, p.g
        HAVING COUNT(*) = {BLOOM_K}
    )"""


def _train_bench_grams(spark: SparkSession,
                       sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(train grams (doc_id, g), distinct benchmark grams (g)).

    Deliberately NOT cached (r18, measured): the ``doc_id % MOD`` filters
    push below the tokenize+explode, so the bench side only tokenizes 1/MOD
    of the corpus — the two "duplicate" subtree evaluations cost ~one full
    pass combined, while caching the full gram stream costs a full tokenize
    PLUS the columnar cache build (probed: equal CPU at best, and a
    corpus-sized cache at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (docs.withColumn("tok", words())
             .withColumn("g", F.explode(F.expr(_NGRAM_SPARK)))
             .select("doc_id", "g"))
    bench = (grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
             .select("g").distinct())
    train = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return train, bench


def _probe_rows(df: DataFrame) -> DataFrame:
    """k probe rows per input row — probe id + md5-derived position, computed
    as TOP-LEVEL projections (codegen), never inside an array lambda."""
    probes = F.array(*[
        F.struct(F.lit(i).alias("probe"),
                 h60("g", f"bl{i}:", BLOOM_M).alias("pos"))
        for i in range(BLOOM_K)])
    return (df.withColumn("pr", F.explode(probes))
            .select(*df.columns, F.col("pr.probe").alias("probe"),
                    F.col("pr.pos").alias("pos")))


def _bloom_hits(spark: SparkSession, sf_dir: str,
                train: DataFrame = None, bench: DataFrame = None) -> DataFrame:
    """(doc_id, g) training grams flagged by the benchmark bloom filter —
    the Spark twin of ``_BLOOM_HITS_CTES``.  Callers that already built the
    gram split (the fp audit) pass it in so the cached stream is shared."""
    if train is None:
        train, bench = _train_bench_grams(spark, sf_dir)
    filt = _probe_rows(bench).select("probe", "pos").distinct()
    return (_probe_rows(train)
            .join(F.broadcast(filt), ["probe", "pos"])
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("k_hit"))
            .filter(F.col("k_hit") == BLOOM_K)
            .select("doc_id", "g"))


@declare(
    "decontaminate_bloom",
    oracle=f"""
    WITH {_BLOOM_HITS_CTES}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
    FROM hits GROUP BY doc_id
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-document contamination flags from the benchmark bloom
    filter: documents with ≥1 flagged 5-gram and how many.  Supersets the
    exact tier's flag set (no false negatives); a pipeline drops or audits
    these documents.  One broadcast join over the streamed training side."""
    return (_bloom_hits(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged_grams")))


@declare(
    "bloom_fp_audit",
    oracle=f"""
    WITH {_BLOOM_HITS_CTES},
    exact AS (
        SELECT DISTINCT g.doc_id, g.g
        FROM (SELECT doc_id, g FROM grams
              WHERE doc_id % {DECON_BENCH_MOD} != 0) g
        JOIN bench b ON g.g = b.g
    )
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id || ':' || g) AS BIGINT)
            FROM hits) AS n_flagged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits h
            WHERE NOT EXISTS (SELECT 1 FROM exact e
                              WHERE e.doc_id = h.doc_id AND e.g = h.g))
               AS n_false_pos
    """,
)
def bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-quality audit: bloom-flagged (doc, gram) pairs vs the exact
    overlap tier.  Pins the filter's two contracts in one row — **no false
    negatives** (n_flagged = n_exact + n_false_pos, i.e. flagged ⊇ exact) and
    a measurable false-positive count (0 at the shipped m/k on the fixture;
    tests drive m down to force FPs).  The exact side reuses the broadcast
    bench-gram join, so the audit is two broadcast joins and a 1-row agg."""
    from alertas_spark.operators import memo

    train, bench = _train_bench_grams(spark, sf_dir)
    hits = _bloom_hits(spark, sf_dir, train, bench)
    # cached: the exact tier feeds BOTH the flagged-join branch and the
    # independent n_exact count below — without the cache the broadcast
    # bench join re-ran per branch
    exact = memo.cached(
        train.join(F.broadcast(bench.select(F.col("g").alias("bg"))),
                   F.col("g") == F.col("bg"))
        .select("doc_id", "g").distinct())
    flagged = (hits.join(exact.withColumn("ex", F.lit(1)),
                         ["doc_id", "g"], "left")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
                    # coalesce: on a contamination-free corpus the hits
                    # relation is EMPTY and SUM over it is NULL while the
                    # oracle's scalar subqueries count 0 — the identity row
                    # must match on the degenerate corpus too
                    F.coalesce(
                        F.sum(F.when(F.col("ex").isNull(), 1).otherwise(0)),
                        F.lit(0))
                    .cast("bigint").alias("n_false_pos")))
    # n_exact counted INDEPENDENTLY (not as "flagged ∧ exact") so the
    # no-false-negative identity n_flagged = n_exact + n_false_pos is a
    # checked output, not a construction artifact
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (flagged.crossJoin(F.broadcast(n_exact))
            .select("n_flagged", "n_exact", "n_false_pos"))
