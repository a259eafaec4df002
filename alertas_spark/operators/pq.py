"""Product quantization (PQ) — compressed-domain ANN over the embedding table.

The missing tier of the similarity-search inventory: IVF (simsearch.py / kmeans.py)
prunes *which* candidates are scanned; PQ compresses *what* is scanned.  Each
64-dim vector is cut into ``M=4`` sub-vectors of 16 dims; each sub-vector is
replaced by the id of its nearest codeword from a per-subspace codebook of
``KSUB=16`` entries — 4 small ints (2 bytes of code) instead of 64 doubles, a
128× scan-size compression.  Queries run in the compressed domain via ADC
(asymmetric distance computation): per query, a 4×16 lookup table of exact
sub-distances is built once, and every candidate's approximate distance is the
sum of 4 table lookups — no float vector math in the scan.

Codebooks are deterministic: codeword ``c`` of subspace ``m`` is sub-vector ``m``
of the seed vector ``vec_id == c`` (the first ``KSUB`` vectors — same train-free
seeding as ``kmeans.py``'s ``c0`` init); :func:`pq_encode_trained` additionally
runs one deterministic Lloyd update per subspace, cutting total quantization
error to 0.73× of the seed codebook on the sf0.001 fixture
(tests/test_pq.py pins the monotonicity).  Vectors are L2-normalized before
encoding so ADC's L2² ranking is monotone in cosine — the same similarity the
brute-force path ranks by.  Measured recall@5 vs brute force on the synthetic
fixtures: 0.20 at sf0.001, 0.34 at sf0.01 (tests/test_pq.py pins the floor) —
the honest cost of a 128× scan compression with an untrained codebook; Lloyd
training per subspace is the quality knob, candidate re-ranking with exact
distances over the PQ top-100 is the standard production refinement.

Scale shape:

* **encode** — the codebook (sub-vectors of the first KSUB normalized vectors)
  comes to the driver in one bounded pull; encoding is ONE numpy
  ``mapInPandas`` pass over the scan's batches (normalize, per-subspace
  first-minimum argmin, sequential-fold distances, so the codes are
  bit-deterministic across engines and partitionings) — ZERO shuffles,
  embarrassingly parallel at 100 TB.
* **ADC top-k** — the per-query LUTs (N_QUERIES × 4×16 doubles) and the
  codebook are tiny driver artifacts shipped to every task with the kernel;
  codes + approximate distances are vectorized numpy inside ONE ``mapInPandas``
  scan that emits only its partition-local top-k per query; the single shuffle
  is the exact final rank over ≤ k · n_partitions rows per query (two-phase
  top-k, operators/topk.py) — never a full-corpus sort in N_QUERIES tasks.

All distances are sequential left-to-right double folds (the ``simsearch._dot``
contract), bit-equal to the DuckDB oracle's ``list_reduce``.

No reference counterpart (the reference has no vector ops); extension operator
per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from alertas_spark.operators.artifacts import (bounded_rows,
                                               persistent_artifact,
                                               persistent_artifact_rows)
from alertas_spark.operators.kmeans import (_assign, _codebooks, _nearest,
                                            _seq_subdist, argmin_arrow,
                                            lloyd_centroids, lloyd_means)
from alertas_spark.operators.memo import session_value
from alertas_spark.operators.embgate import (EMB_VALID_SQL, norm2,
                                             np_valid_mask, valid_embeddings,
                                             valid_nrm)
from alertas_spark.operators.simsearch import _dot
from alertas_spark.operators.topk import merge_shortlist
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

M = 4        # subspaces
SUBDIM = 16  # dims per subspace
DIM = M * SUBDIM  # full embedding width (64) — single definition for the module
KSUB = 16    # codewords per subspace
N_QUERIES = 10  # vec_id < 10 are the query vectors (simsearch.py convention)
TOP_K = 5

#: L2-normalized embeddings (fold order matches Spark's `_normalized`)
_DUCK_V = f"""v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e0 FROM embeddings
        WHERE {EMB_VALID_SQL}),
    v AS (SELECT vec_id,
                 list_transform(e0, x -> x / sqrt(list_reduce(
                     list_transform(e0, y -> y * y), (a, b) -> a + b))) AS emb
          FROM v0)"""

_DUCK_CW = f"""
    cw AS (
        SELECT t.m, s.vec_id AS c,
               list_transform(range(1, {SUBDIM} + 1),
                              i -> s.emb[(t.m - 1) * {SUBDIM} + i]) AS cvec
        FROM v s, range(1, {M} + 1) t(m)
        WHERE s.vec_id < {KSUB}
    )"""

_DUCK_SUBDIST = (
    f"list_reduce(list_transform(range(1, {SUBDIM} + 1), "
    f"i -> ({{e}}.emb[(w.m - 1) * {SUBDIM} + i] - w.cvec[i]) "
    f"* ({{e}}.emb[(w.m - 1) * {SUBDIM} + i] - w.cvec[i])), (x, y) -> x + y)"
)

_DUCK_CODES = f"""
    scored AS (
        SELECT e.vec_id, w.m, w.c, {_DUCK_SUBDIST.format(e="e")} AS d
        FROM v e, cw w
    ),
    best AS (
        SELECT vec_id, m, c, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
        FROM scored
    ),
    codes AS (SELECT vec_id, m, c, d FROM best WHERE rn = 1)"""


def _normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings L2-normalized (fixed-fold norm), so PQ's L2² ADC distance is
    monotone in cosine (‖a−b‖² = 2−2·cos for unit vectors) and the compressed
    ranking targets the same similarity as the brute-force cosine path."""
    return (
        _raw(spark, sf_dir).withColumnRenamed("emb", "e0")
        .withColumn("nrm", F.sqrt(norm2(F.col("e0"))))
        .filter(valid_nrm(F.col("nrm")))  # embgate, free off the existing fold
        # nullif guard: the filter already excludes nrm = 0, but Catalyst's
        # InferFiltersFromGenerate can synthesize a `size(emb) > 0` predicate
        # for a downstream posexplode and reorder it BEFORE the validity
        # filter — under ANSI mode the plain division then faults on the
        # excluded zero-norm row (r18, caught by the adversarial fixture).
        # nullif makes the expression total; surviving rows are bit-identical.
        .select("vec_id",
                F.expr("transform(e0, x -> x / nullif(nrm, cast(0.0 as "
                       "double)))").alias("emb"))
    )


def _raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, emb)``: the raw embeddings as doubles (the oracle's
    ``::DOUBLE[]``), ungated — what the numpy scans read."""
    return (load_table(spark, sf_dir, "embeddings")
            .select("vec_id", F.col("embedding").cast("array<double>")
                    .alias("emb")))


def _head_rows(spark: SparkSession, sf_dir: str) -> dict:
    """``{vec_id: unit vector}`` of the PQ seeds and query vectors (valid
    ``vec_id < max(KSUB, N_QUERIES)``): ONE bounded pull per session, read by
    every PQ codebook and query table."""
    import numpy as np

    n = max(KSUB, N_QUERIES)

    def pull() -> dict:
        rows = bounded_rows(_normalized(spark, sf_dir)
                            .filter(F.col("vec_id") < n), n, "pq_head_rows")
        return {r["vec_id"]: np.asarray(r["emb"], dtype=np.float64)
                for r in rows}

    return session_value(spark, ("pq_head_rows", sf_dir), pull)


def _unit_rows(pdf):
    """``(ids, mat)``: one pandas batch of ``_raw`` rows gated (embgate) and
    normalized bit-equal to ``_normalized`` — ``_seq_subdist(raw, 0.0)`` is
    its norm fold op for op, and sqrt and divide are single-rounded."""
    import numpy as np

    sel = [i for i, e in enumerate(pdf["emb"]) if e is not None and len(e)]
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)[sel]
    if not sel:
        return ids, np.empty((0, DIM))
    raw = np.stack(pdf["emb"].iloc[sel].tolist()).astype(np.float64)
    keep = np_valid_mask(raw)
    raw, ids = raw[keep], ids[keep]
    return ids, raw / np.sqrt(_seq_subdist(raw, 0.0))[:, None]


def _pq_codes(mat, cb):
    """``(codes, d)``, both ``(n, M)``: per row and subspace, the nearest
    codeword of ``cb`` ``(M, KSUB, SUBDIM)`` — argmin takes the FIRST
    minimum, so ties go to the lowest id — and its ``_seq_subdist``."""
    import numpy as np

    d = np.stack([_seq_subdist(mat[:, None, m * SUBDIM:(m + 1) * SUBDIM],
                               cb[m]) for m in range(M)], axis=1)
    return d.argmin(axis=2), d.min(axis=2)


@declare(
    "pq_encode",
    oracle=f"""
    WITH {_DUCK_V},
    {_DUCK_CW},
    {_DUCK_CODES}
    SELECT vec_id,
           CAST(MAX(CASE WHEN m = 1 THEN c END) AS INTEGER) AS code_1,
           CAST(MAX(CASE WHEN m = 2 THEN c END) AS INTEGER) AS code_2,
           CAST(MAX(CASE WHEN m = 3 THEN c END) AS INTEGER) AS code_3,
           CAST(MAX(CASE WHEN m = 4 THEN c END) AS INTEGER) AS code_4,
           ROUND(list_reduce(list(d ORDER BY m), (x, y) -> x + y), 6) AS qerr
    FROM codes GROUP BY vec_id
    """,
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: per vector, the 4 codeword ids (one per subspace) and the
    total quantization error (sum of the 4 exact sub-distances, the ADC
    self-distance).  Zero shuffles — see module docstring."""
    import numpy as np
    import pandas as pd

    cb = _adc_artifacts(spark, sf_dir)[2]

    def encode(batches):
        for pdf in batches:
            ids, mat = _unit_rows(pdf)
            codes, d = _pq_codes(mat, cb)
            # qerr sums the sub-distances left to right, as the oracle's
            # list_reduce over `d ORDER BY m` does
            yield pd.DataFrame({
                "vec_id": ids,
                **{f"code_{m + 1}": codes[:, m].astype(np.int32)
                   for m in range(M)},
                "qerr": d[:, 0] + d[:, 1] + d[:, 2] + d[:, 3]})

    enc = _raw(spark, sf_dir).mapInPandas(
        encode, "vec_id long, code_1 int, code_2 int, code_3 int, "
        "code_4 int, qerr double")
    return enc.withColumn("qerr", F.round("qerr", 6))


#: ADC pipeline CTEs through `ranked` (per-query ascending-distance ranking of
#: every candidate's table-lookup distance) — shared by the ADC top-k and the
#: exact-rerank refinement.
_DUCK_ADC_RANKED = f"""
    WITH {_DUCK_V},
    {_DUCK_CW},
    {_DUCK_CODES},
    lut AS (
        SELECT q.vec_id AS query_id, w.m, w.c, {_DUCK_SUBDIST.format(e="q")} AS d
        FROM v q, cw w
        WHERE q.vec_id < {N_QUERIES}
    ),
    approx AS (
        SELECT l.query_id, cd.vec_id AS cand_id,
               list_reduce(list(l.d ORDER BY l.m), (x, y) -> x + y) AS adist
        FROM codes cd
        JOIN lut l ON l.m = cd.m AND l.c = cd.c
        WHERE l.query_id <> cd.vec_id
        GROUP BY l.query_id, cd.vec_id
    ),
    ranked AS (
        SELECT query_id, cand_id, adist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, cand_id) AS rnk
        FROM approx
    )"""


def _adc_artifacts(spark: SparkSession, sf_dir: str):
    """``(qids, lut, cb)`` in numpy from the session's seed and query rows
    (``_head_rows``): the codebook ``cb`` (seed sub-vector slices) and the
    per-query ADC LUTs (``_seq_subdist``, the bit-exact fold)."""
    import numpy as np

    by_id = _head_rows(spark, sf_dir)
    # cb[m][c] = sub-vector m of seed vector vec_id == c (the oracle's `cw`)
    cb = np.stack([
        np.stack([by_id[c][m * SUBDIM:(m + 1) * SUBDIM] for c in range(KSUB)])
        for m in range(M)])                                          # (M,KSUB,SUBDIM)
    qids = np.array(sorted(i for i in by_id if i < N_QUERIES), dtype=np.int64)
    qsub = np.stack([by_id[int(q)].reshape(M, SUBDIM) for q in qids])
    lut = _seq_subdist(qsub[:, :, None, :], cb[None, :, :, :])       # (nq,M,KSUB)
    return qids, lut, cb


def _adc_topk(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    """(query_id, vec_id, adist, rnk ≤ depth): the exact per-query top-``depth``
    by ADC distance ascending, ties to the lowest candidate id — row-identical to
    ranking EVERY candidate (the ``_DUCK_ADC_RANKED`` oracle) and filtering.

    Codes AND the ADC distance are numpy in one ``mapInPandas`` pass, and each
    partition emits only its local top-``depth`` per query, so the final exact
    rank window sees ≤ depth · n_partitions rows per query — the two-phase
    top-k shape (operators/topk.py).  Bit-equal op for op: ``_unit_rows``,
    ``_pq_codes``, and adist summing the 4 LUT lookups in subspace order."""
    import numpy as np
    import pandas as pd

    qids, lut, cb = _adc_artifacts(spark, sf_dir)

    def gen(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            ids, mat = _unit_rows(pdf)
            if not len(ids):
                continue
            codes, _ = _pq_codes(mat, cb)
            acc = lut[:, 0, :][:, codes[:, 0]]  # (nq, n) LUT gather, m order
            for m in range(1, M):
                acc = acc + lut[:, m, :][:, codes[:, m]]
            qs, vs, ds = [], [], []
            for qi, q in enumerate(qids):
                mask = ids != q                     # a query never matches itself
                cand, dd = ids[mask], acc[qi][mask]
                order = np.lexsort((cand, dd))[:depth]
                qs.append(np.full(len(order), q, dtype=np.int64))
                vs.append(cand[order])
                ds.append(dd[order])
            batch_best = pd.DataFrame({
                "query_id": np.concatenate(qs),
                "vec_id": np.concatenate(vs),
                "adist": np.concatenate(ds),
            })
            best = merge_shortlist(best, batch_best, ["query_id"], "adist",
                                   "vec_id", depth)
        if best is not None and len(best):
            yield best

    scored = _raw(spark, sf_dir).mapInPandas(
        gen, "query_id long, vec_id long, adist double")
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= depth))


@declare(
    "simsearch_topk_pq",
    oracle=f"""
    {_DUCK_ADC_RANKED}
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           ROUND(adist, 6) AS score
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k in the compressed domain: approximate distance = sum of 4
    per-subspace LUT lookups on the candidate's PQ codes; rank ascending
    (L2² distance), ties to the lowest candidate id.  The scan never touches
    the raw vectors — only the 4-int codes and the broadcast per-query LUTs."""
    return _topk_from_adc(_adc_topk(spark, sf_dir, TOP_K))


def _topk_from_adc(adc: DataFrame) -> DataFrame:
    """ADC ranking → top-k result shape (shared by the declared query, which
    passes the raw plan, and the recall dashboard, which passes a checkpointed
    shortlist computed once for both PQ tiers)."""
    return (
        adc.filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("cand_id"),
                F.col("rnk").cast("int").alias("rnk"),
                F.round("adist", 6).alias("score"))
    )


SHORTLIST = 50  # ADC shortlist size feeding the exact re-rank


@declare(
    "simsearch_topk_pq_reranked",
    oracle=f"""
    {_DUCK_ADC_RANKED},
    short AS (SELECT query_id, cand_id FROM ranked WHERE rnk <= {SHORTLIST}),
    rr AS (
        SELECT s.query_id, s.cand_id,
               list_reduce(list_transform(range(1, {M * SUBDIM} + 1),
                   i -> q.emb[i] * c.emb[i]), (x, y) -> x + y) AS cos
        FROM short s
        JOIN v c ON c.vec_id = s.cand_id
        JOIN v q ON q.vec_id = s.query_id
    ),
    rr_ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS rnk
        FROM rr
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           ROUND(cos, 6) AS score
    FROM rr_ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_pq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard production ANN refinement: ADC shortlists {SHORTLIST}
    candidates per query in the compressed domain, then ONLY those rows are
    re-ranked with the exact cosine (vectors are unit-normalized, so the plain
    dot is the cosine).  The exact-distance work is O(N_QUERIES × SHORTLIST),
    not O(N_QUERIES × corpus), and recall is bounded only by what the shortlist
    captures: measured recall@5 on the fixtures is 0.66 at sf0.001 / 0.58 at
    sf0.01 vs 0.20 / 0.34 unreranked — the remaining gap is the untrained
    codebook's shortlist misses (widen SHORTLIST or train the codebook to
    close it).

    Scale shape: the vector gather for the shortlist is one hash join on
    ``vec_id`` against the embedding table (bucket-ready key); queries are a
    broadcast; the final window re-ranks {SHORTLIST}-row groups."""
    return _rerank_from_adc(spark, sf_dir, _adc_topk(spark, sf_dir, SHORTLIST))


def _rerank_from_adc(spark: SparkSession, sf_dir: str, adc: DataFrame) -> DataFrame:
    """ADC ranking → exact-cosine re-rank (shared with the recall dashboard).

    The gather joins the RAW embedding scan against the broadcast shortlist
    (bounded by constants: N_QUERIES × SHORTLIST rows) and only THEN normalizes
    — the per-row norm fold runs on the ≤ 500 surviving rows, never the corpus,
    and the corpus-sized table is never shuffled to meet 500 rows."""
    short = (
        adc
        .filter(F.col("rnk") <= SHORTLIST)
        .select("query_id", "vec_id")
    )
    vraw = (valid_embeddings(load_table(spark, sf_dir, "embeddings"))
            .select("vec_id", F.col("embedding").cast("array<double>").alias("e0")))
    q = (_normalized(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")))
    rr = (
        vraw.join(F.broadcast(short), "vec_id")
        .withColumn("nrm", F.sqrt(norm2(F.col("e0"))))
        .withColumn("emb", F.expr("transform(e0, x -> x / nrm)"))
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", _dot(F.col("qemb"), F.col("emb")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rr.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("cand_id"),
                F.col("rnk").cast("int").alias("rnk"),
                F.round("cos", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Trained PQ: one deterministic Lloyd update per subspace
# ---------------------------------------------------------------------------

#: DECIMAL precision for the codeword means — the kmeans.py determinism contract
_DEC = "DECIMAL(29,6)"

_DUCK_TRAINED = f"""
    subs AS (
        SELECT v.vec_id, t.m,
               list_transform(range(1, {SUBDIM} + 1),
                              i -> v.emb[(t.m - 1) * {SUBDIM} + i]) AS sub
        FROM v, range(1, {M} + 1) t(m)
    ),
    cw0 AS (SELECT m, vec_id AS c, sub AS cvec FROM subs WHERE vec_id < {KSUB}),
    a1s AS (
        SELECT s.vec_id, s.m, w.c,
               list_reduce(list_transform(range(1, {SUBDIM} + 1),
                   i -> (s.sub[i] - w.cvec[i]) * (s.sub[i] - w.cvec[i])),
                   (x, y) -> x + y) AS d
        FROM subs s JOIN cw0 w ON w.m = s.m
    ),
    a1 AS (
        SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
            FROM a1s) WHERE rn = 1
    ),
    mean1 AS (
        SELECT a.m, a.c, t.dim,
               CAST(CAST(SUM(CAST(s.sub[t.dim] AS {_DEC})) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mu
        FROM a1 a
        JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m,
             range(1, {SUBDIM} + 1) t(dim)
        GROUP BY a.m, a.c, t.dim
    ),
    cw1 AS (
        -- trained codeword = decimal-exact mean of its members; a codeword with
        -- no members keeps its seed
        SELECT w0.m, w0.c, COALESCE(mu.cvec, w0.cvec) AS cvec
        FROM cw0 w0
        LEFT JOIN (SELECT m, c, list(mu ORDER BY dim) AS cvec
                   FROM mean1 GROUP BY m, c) mu
          ON mu.m = w0.m AND mu.c = w0.c
    ),
    a2s AS (
        SELECT s.vec_id, s.m, w.c,
               list_reduce(list_transform(range(1, {SUBDIM} + 1),
                   i -> (s.sub[i] - w.cvec[i]) * (s.sub[i] - w.cvec[i])),
                   (x, y) -> x + y) AS d
        FROM subs s JOIN cw1 w ON w.m = s.m
    ),
    a2 AS (
        SELECT vec_id, m, c, d FROM (
            SELECT vec_id, m, c, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
            FROM a2s) WHERE rn = 1
    )"""


def _assign_sub(subs: DataFrame, cw: list) -> DataFrame:
    """``subs`` plus ``c`` (int) / ``d``: per (vec_id, m) the codeword
    minimizing the sequential-fold sub-L2², ties to the lowest id — the
    numpy argmin kernel (``kmeans.argmin_arrow``) grouped by subspace ``m``
    over the scan's Arrow batches, against the driver-held codebook rows
    (zero exchange: a crossJoin-by-m + struct-min agg would shuffle every
    sub-vector once per pass).  A subspace missing from the codebook raises;
    ``c`` is non-nullable by the kernel's output schema, so joins on it
    infer no isnotnull filter."""
    return argmin_arrow(subs, "sub", cw, "c", IntegerType(), "d", group="m")


def _sub_seed(vecs: dict) -> list:
    """The seed codebook ``(m, c, cvec)`` of ``{vec_id: vector}``: codeword
    ``c`` of subspace ``m`` is sub-vector ``m`` of the vector ``vec_id == c``
    for the first KSUB vectors."""
    return [Row(m=m + 1, c=int(q),
                cvec=vecs[q][m * SUBDIM:(m + 1) * SUBDIM].tolist())
            for m in range(M) for q in sorted(vecs) if q < KSUB]


_CODEBOOK_SCHEMA = "m int, c int, cvec array<double>"


def _lloyd_codebook(subs: DataFrame, cw0: list) -> list:
    """One Lloyd update per subspace over ``subs`` ``(vec_id, m, sub, …)``
    from the driver-held seed codebook ``cw0`` (``_sub_seed``): each
    codeword becomes the decimal-exact mean of its members, grouped by
    ``m`` in the one fused kernel (``kmeans.lloyd_means``, one Spark job);
    an empty cell keeps its seed.  Returns the ``(m, c, cvec)`` rows."""
    means = lloyd_means(subs, "sub", cw0, "c", group="m")
    return [Row(m=r["m"], c=r["c"], cvec=means.get((r["m"], r["c"]), r["cvec"]))
            for r in sorted(cw0, key=lambda r: (r["m"], r["c"]))]


@declare(
    "pq_encode_trained",
    oracle=f"""
    WITH {_DUCK_V},
    {_DUCK_TRAINED}
    SELECT vec_id,
           CAST(MAX(CASE WHEN m = 1 THEN c END) AS INTEGER) AS code_1,
           CAST(MAX(CASE WHEN m = 2 THEN c END) AS INTEGER) AS code_2,
           CAST(MAX(CASE WHEN m = 3 THEN c END) AS INTEGER) AS code_3,
           CAST(MAX(CASE WHEN m = 4 THEN c END) AS INTEGER) AS code_4,
           ROUND(SUM(CAST(ROUND(d * 1e9) AS BIGINT)) / 1e9, 6) AS qerr
    FROM a2 GROUP BY vec_id
    """,
)
def pq_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with a TRAINED codebook: per subspace, one deterministic Lloyd update —
    assign every sub-vector to its nearest seed codeword, replace each codeword
    by the decimal-exact mean of its members (empty cells keep their seed), then
    re-assign.  Identical contract to ``kmeans_assign`` (argmin ties to the
    lowest id, DECIMAL(29,6) means) applied per subspace, so training is
    idempotent across partitionings and engines.

    Scale shape: the seed codebook is sliced on the driver from the memoized
    head rows (``_head_rows``); the Lloyd update is ONE Spark job — the
    fused kernel (``kmeans.lloyd_means``, grouped by ``m``) assigns every
    sub-vector over the scan's Arrow batches and returns each partition's
    per-codeword counts and exact decimal sums (≤M·KSUB rows) in one
    collect, which the driver merges into the trained codebook; the
    re-assign is the argmin kernel (``kmeans.argmin_arrow``) against those
    rows.  No exchange before the final per-vector aggregation, no
    broadcast, no join.  The qerr sum quantizes each sub-distance to
    1e-9-unit bigints so the 4-term sum is order-independent."""
    v = _normalized(spark, sf_dir)
    subs = v.select(
        "vec_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, {M}), m -> slice(emb, (m - 1) * {SUBDIM} + 1, "
            f"{SUBDIM}))")).alias("m0", "sub"),
    ).select("vec_id", (F.col("m0") + 1).alias("m"), "sub")
    # trained-artifact tiers: the Lloyd pass runs once per session per dataset
    # (operators/memo.py), and when an artifact store is configured
    # (spark.alertas.artifacts.dir / ALERTAS_ARTIFACTS_DIR) the 64-row trained
    # codebook persists as versioned parquet and later sessions skip training
    # entirely (operators/artifacts.py); the final re-assign runs per call
    cw1 = persistent_artifact_rows(
        spark, sf_dir, "pq_trained_codebook", code_version="1",
        table="embeddings", max_rows=M * KSUB, schema=_CODEBOOK_SCHEMA,
        build=lambda: _lloyd_codebook(
            subs, _sub_seed(_head_rows(spark, sf_dir))))
    a2 = _assign_sub(subs, cw1)
    # codes + qerr in ONE conditional aggregation (single shuffle on vec_id) —
    # a pivot + join-back here would cost an extra exchange and a merge join
    code_cols = [F.max(F.when(F.col("m") == m, F.col("c"))).cast("int")
                 .alias(f"code_{m}") for m in range(1, M + 1)]
    return a2.groupBy("vec_id").agg(
        *code_cols,
        F.round(F.sum(F.round(F.col("d") * 1e9).cast("bigint")) / 1e9, 6)
        .alias("qerr"))


# ---------------------------------------------------------------------------
# IVFADC: residual product quantization over a trained coarse quantizer
# ---------------------------------------------------------------------------
#
# IVFADC — residual product quantization over a trained coarse quantizer
# (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 §IV; the FAISS ``IVFx,PQy`` index).
#
# ``pq.py`` encodes RAW vectors; the published accuracy recovery at the same
# code size quantizes RESIDUALS: assign each vector to a trained coarse
# centroid, subtract the centroid, and PQ-encode what's left.  Residuals are
# centered and much lower-energy than raw vectors, so the same 4×16-codeword
# budget spends its resolution where the data actually varies — and the query
# builds a DIFFERENT LUT per probed cell (the query's residual against that
# cell's centroid), which is the "asymmetric distance computation" of the
# title.
#
# Structure (every trained piece rides the artifact store):
#
# * coarse quantizer — 2 deterministic Lloyd iterations (kmeans.py's exact
#   ``lloyd_centroids``) over the L2-NORMALIZED embeddings, so
#   ADC's L2² ranking stays monotone in cosine like every other PQ tier;
#   the K-row centroid table is the persisted artifact, assignment is a
#   zero-shuffle argmin re-projection at read time (the FAISS add-time shape).
# * residual codebook — ONE codebook shared across cells (the published
#   IVFADC choice): seed = the first KSUB residuals, one deterministic Lloyd
#   update per subspace (``pq_encode_trained``'s contract: decimal(29,6)
#   means, ties to the lowest id, empty cells keep their seed).
# * search — per query, rank the coarse cells by centroid distance and probe
#   the nearest NPROBE; build the per-(query, cell) 4×16 LUT of exact
#   sub-distances between the query's CELL residual and the codewords; a
#   candidate's distance is the sum of 4 LUT lookups, each quantized to
#   1e-9-unit bigints before the sum so the 4-term total is order- and
#   engine-independent.
#
# Scale shape: centroids and codebooks are tiny driver rows — no broadcast
# job, no join.  Both seeds (the first KC vectors, the first KSUB residuals)
# are driver numpy over one memoized pull of the head rows (``_head_rows``),
# and each Lloyd update is ONE Spark job: the fused kernel
# (kmeans.lloyd_means) assigns over the scan's Arrow batches and returns
# each partition's per-cell counts and exact decimal sums in one collect.
# A cold build is the schema read, the head pull and the two update jobs.
# Every later assign and encode is the numpy argmin kernel
# (kmeans.argmin_arrow), and the 10-query side (probed cells, LUT of
# ≤ N_QUERIES·NPROBE·M·KSUB rows) is driver numpy over the same head rows
# (``_probe_lut``); the LUT bounds the candidate join (the IVF prune — a
# broadcast of the LUT, never all-pairs); the final rank is the two-phase
# exact top-k.  Nothing driver-side grows with the corpus.
#
# No reference counterpart (the reference has no vector ops); extension
# operator per the training-data-pipeline brief.

#: coarse cells (shared with kmeans.py's K so the index geometries align).
KC = 8
#: coarse cells probed per query (of KC) — the IVF recall/cost knob.
NPROBE = 4

# -- DuckDB fragments --------------------------------------------------------

_D_FULL_DIST = ("list_reduce(list_transform(range(1, {n} + 1), "
                "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
                "(x, y) -> x + y)")


def _duck_coarse() -> str:
    """c0→a1→c1→a2 over the NORMALIZED ``v`` — kmeans.py's exact CTE pair."""
    from alertas_spark.operators.kmeans import _duck_assign, _duck_update

    return f"""c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v
        WHERE vec_id < {KC}),
    {_duck_assign('c0', 'a1')},
    {_duck_update('a1', 'c1')},
    {_duck_assign('c1', 'a2')}"""


#: the NPROBE probed coarse cells per query — shared by the IVFADC chain and
#: the dashboard's candidate-count audit (requires ``v`` + ``c1`` in scope).
_DUCK_QP = f"""qp AS (
        SELECT query_id, cid, cvec, qemb FROM (
            SELECT q.vec_id AS query_id, c.cid, c.cvec, q.emb AS qemb,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_D_FULL_DIST.format(n=DIM, a="q.emb",
                                                     b="c.cvec")}, c.cid)
                       AS rn
            FROM v q, c1 c WHERE q.vec_id < {N_QUERIES})
        WHERE rn <= {NPROBE}
    )"""


_DUCK_IVFPQ = f"""
    {_duck_coarse()},
    res AS (
        SELECT a.vec_id, a.cid,
               list_transform(range(1, {DIM} + 1),
                              i -> a.emb[i] - c.cvec[i]) AS r
        FROM a2 a JOIN c1 c USING (cid)
    ),
    rsubs AS (
        SELECT vec_id, cid, t.m,
               list_transform(range(1, {SUBDIM} + 1),
                              i -> r[(t.m - 1) * {SUBDIM} + i]) AS sub
        FROM res, range(1, {M} + 1) t(m)
    ),
    rcw0 AS (SELECT m, vec_id AS c, sub AS cvec FROM rsubs
             WHERE vec_id < {KSUB}),
    rb1s AS (
        SELECT s.vec_id, s.m, s.cid, w.c,
               {_D_FULL_DIST.format(n=SUBDIM, a="s.sub", b="w.cvec")} AS d
        FROM rsubs s JOIN rcw0 w ON w.m = s.m
    ),
    rb1 AS (
        SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, c) AS rn
            FROM rb1s) WHERE rn = 1
    ),
    rmean AS (
        SELECT a.m, a.c, t.dim,
               CAST(CAST(SUM(CAST(s.sub[t.dim] AS DECIMAL(29,6)))
                    AS VARCHAR) AS DOUBLE) / COUNT(*) AS mu
        FROM rb1 a
        JOIN rsubs s ON s.vec_id = a.vec_id AND s.m = a.m,
             range(1, {SUBDIM} + 1) t(dim)
        GROUP BY a.m, a.c, t.dim
    ),
    rcw1 AS (
        SELECT w0.m, w0.c, COALESCE(mu.cvec, w0.cvec) AS cvec
        FROM rcw0 w0
        LEFT JOIN (SELECT m, c, list(mu ORDER BY dim) AS cvec
                   FROM rmean GROUP BY m, c) mu
          ON mu.m = w0.m AND mu.c = w0.c
    ),
    rcodes AS (
        SELECT vec_id, cid, m, c FROM (
            SELECT s.vec_id, s.cid, s.m, w.c,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {_D_FULL_DIST.format(n=SUBDIM, a="s.sub",
                                                     b="w.cvec")}, w.c) AS rn
            FROM rsubs s JOIN rcw1 w ON w.m = s.m) WHERE rn = 1
    ),
    {_DUCK_QP},
    qres AS (
        SELECT query_id, cid,
               list_transform(range(1, {DIM} + 1),
                              i -> qemb[i] - cvec[i]) AS qr
        FROM qp
    ),
    lut AS (
        SELECT p.query_id, p.cid, w.m, w.c,
               list_reduce(list_transform(range(1, {SUBDIM} + 1),
                   i -> (p.qr[(w.m - 1) * {SUBDIM} + i] - w.cvec[i])
                      * (p.qr[(w.m - 1) * {SUBDIM} + i] - w.cvec[i])),
                   (x, y) -> x + y) AS sd
        FROM qres p, rcw1 w
    ),
    sc AS (
        SELECT l.query_id, cd.vec_id AS cand_id,
               SUM(CAST(ROUND(l.sd * 1e9) AS BIGINT)) AS adc_q
        FROM rcodes cd
        JOIN lut l ON l.cid = cd.cid AND l.m = cd.m AND l.c = cd.c
        WHERE l.query_id <> cd.vec_id
        GROUP BY l.query_id, cd.vec_id
    ),
    rk AS (
        SELECT query_id, cand_id, adc_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_q, cand_id) AS rnk
        FROM sc
    )"""


def _coarse_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The trained coarse centroid ROWS ``(cid, cvec)`` (≤KC, model
    geometry) over the NORMALIZED embeddings — the index's first artifact.
    The seed is the first KC head rows (``_head_rows``), so training is the
    one fused Lloyd job.  Driver-held: the argmin kernel and the query side
    (``_probe_lut``) read the rows directly (no broadcast jobs, no joins —
    artifacts.persistent_artifact_rows)."""
    def train() -> list:
        c0 = [Row(cid=q, cvec=e.tolist())
              for q, e in sorted(_head_rows(spark, sf_dir).items()) if q < KC]
        return lloyd_centroids(_normalized(spark, sf_dir), c0)

    return persistent_artifact_rows(
        spark, sf_dir, "ivfpq_coarse_centroids", code_version="1",
        table="embeddings", max_rows=KC,
        schema="cid bigint, cvec array<double>", build=train)


def _residual_subs(spark: SparkSession, sf_dir: str, c1: list) -> DataFrame:
    """(vec_id, cid, m, sub): the per-subspace residual slices — assignment
    is the zero-shuffle argmin kernel over the driver-held centroids, which
    also returns the winning centroid's vector (``with_cvec``), so the
    residual is a zip_with projection with no join-back (the former shape
    paid a broadcast-build job for the pack and another for the c1 join)."""
    a2 = _assign(_normalized(spark, sf_dir), c1, with_cvec=True)
    res = a2.select(
        "vec_id", "cid",
        F.zip_with("emb", "cvec", lambda x, c: x - c).alias("r"))
    return (res.select(
        "vec_id", "cid",
        F.posexplode(F.expr(
            f"transform(sequence(1, {M}), m -> slice(r, (m - 1) * {SUBDIM}"
            f" + 1, {SUBDIM}))")).alias("m0", "sub"))
        .select("vec_id", "cid", (F.col("m0") + 1).alias("m"), "sub"))


def _head_residuals(head: dict, c1: list) -> dict:
    """``{vec_id: residual}`` of the head rows against their nearest
    centroid of ``c1`` — the argmin kernel's loop (``kmeans._nearest``, ties
    to the lowest cid) and one IEEE subtraction per component, operation for
    operation what ``_residual_subs`` computes in the scan."""
    import numpy as np

    ids = sorted(head)
    if not ids:
        return {}
    mat = np.stack([head[q] for q in ids])
    _, _, cent = _nearest(mat, None, _codebooks(c1, "cid", None)[0], "emb",
                          with_cvec=True)
    return dict(zip(ids, mat - cent))


def _residual_codebook(spark: SparkSession, sf_dir: str, c1: list) -> list:
    """The trained (m, c, cvec) residual codebook ROWS (≤M·KSUB, model
    geometry) — one Lloyd update over the pooled residual sub-vectors
    (pq_encode_trained's exact contract) from the seed of the first KSUB
    residuals, computed on the driver from the head rows; driver-held for
    the argmin kernel and the query LUT (``_probe_lut``)."""
    return persistent_artifact_rows(
        spark, sf_dir, "ivfpq_residual_codebook", code_version="1",
        table="embeddings", max_rows=M * KSUB, schema=_CODEBOOK_SCHEMA,
        build=lambda: _lloyd_codebook(
            _residual_subs(spark, sf_dir, c1),
            _sub_seed(_head_residuals(_head_rows(spark, sf_dir), c1))))


def _nearest_cells(queries: dict, c1: list) -> list:
    """``[(query_id, cid)]``: each query's NPROBE nearest centroids of ``c1``
    by ``_seq_subdist``, ties to the lowest cid (the oracle's ``qp``)."""
    import numpy as np

    cids = np.array([r["cid"] for r in c1], dtype=np.int64)
    cents = np.array([r["cvec"] for r in c1], dtype=np.float64)
    return [(int(qid), int(cid)) for qid in sorted(queries)
            for cid in cids[np.lexsort(
                (cids, _seq_subdist(queries[qid], cents)))[:NPROBE]]]


def _probe_lut(queries: dict, c1: list, cw1: list) -> tuple[list, list]:
    """``(probes, lut)`` for driver-held ``{query_id: unit vector}``:
    ``probes`` is :func:`_nearest_cells`; ``lut`` has one ``(query_id, cid,
    m, lc, sd)`` row per probe and codeword ``(m, lc)``, ``sd`` the
    ``_seq_subdist`` of the query's residual against ``cid``, sliced to
    subspace ``m``, and the codeword (the oracle's ``lut``).  A codebook
    missing a subspace raises."""
    import numpy as np

    ms = sorted({r["m"] for r in cw1})
    if ms != list(range(1, M + 1)):
        raise ValueError(f"codebook covers subspaces {ms}, expected 1..{M}")
    words = sorted(cw1, key=lambda r: (r["m"], r["c"]))
    wm = np.array([r["m"] for r in words], dtype=np.int64)
    wvec = np.array([r["cvec"] for r in words], dtype=np.float64)
    cent = {r["cid"]: np.asarray(r["cvec"], dtype=np.float64) for r in c1}
    probes = _nearest_cells(queries, c1)
    lut = []
    for qid, cid in probes:
        qr = (queries[qid] - cent[cid]).reshape(M, SUBDIM)
        sd = _seq_subdist(qr[wm - 1], wvec)
        lut += [(qid, cid, int(m), w["c"], float(d))
                for m, w, d in zip(wm, words, sd)]
    return probes, lut


def _query_rows(spark: SparkSession, sf_dir: str) -> dict:
    return {q: v for q, v in _head_rows(spark, sf_dir).items()
            if q < N_QUERIES}


def _ivfpq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_q): every candidate in each query's NPROBE
    probed cells with its quantized ADC distance — the shared front half of
    the residual tier and its +R refinement."""
    c1 = _coarse_centroids(spark, sf_dir)
    cw1 = _residual_codebook(spark, sf_dir, c1)
    codes = _assign_sub(_residual_subs(spark, sf_dir, c1), cw1)
    _, lut = _probe_lut(_query_rows(spark, sf_dir), c1, cw1)
    lut = spark.createDataFrame(
        lut, "query_id long, cid long, m int, lc int, sd double")
    return (codes
            .join(F.broadcast(lut), ["cid", "m"])
            .filter(F.col("lc") == F.col("c"))
            .filter(F.col("query_id") != F.col("vec_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum(F.round(F.col("sd") * 1e9).cast("bigint"))
                 .alias("adc_q")))


@declare(
    "simsearch_topk_ivfpq_residual",
    oracle=f"""
    WITH {_DUCK_V},
    {_DUCK_IVFPQ}
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           ROUND(CAST(adc_q AS DOUBLE) / 1e9, 6) AS score
    FROM rk WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_ivfpq_residual(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """IVFADC top-k: probe the {NPROBE} nearest trained coarse cells, score
    every candidate in them by summed LUT lookups over its residual PQ code
    (each sub-distance quantized to 1e-9-unit bigints before the 4-term
    sum), exact two-phase rank ascending.  ``score`` is the approximate L2²
    between query and candidate residual reconstructions — monotone in the
    ranking, comparable to ``simsearch_topk_pq``'s ADC distance."""
    from alertas_spark.operators.topk import ranked_topk

    scored = _ivfpq_scored(spark, sf_dir)
    return (ranked_topk(scored, "query_id", "adc_q", "vec_id", TOP_K,
                        ascending=True)
            .select("query_id", F.col("vec_id").alias("cand_id"),
                    F.col("rnk").cast("int").alias("rnk"),
                    F.round(F.col("adc_q").cast("double") / 1e9, 6)
                    .alias("score")))


@declare(
    "simsearch_topk_ivfpq_rerank",
    oracle=f"""
    WITH {_DUCK_V},
    {_DUCK_IVFPQ},
    rshort AS (SELECT query_id, cand_id FROM rk WHERE rnk <= {SHORTLIST}),
    rrr AS (
        SELECT s.query_id, s.cand_id,
               list_reduce(list_transform(range(1, {M * SUBDIM} + 1),
                   i -> q.emb[i] * c.emb[i]), (x, y) -> x + y) AS cos
        FROM rshort s
        JOIN v c ON c.vec_id = s.cand_id
        JOIN v q ON q.vec_id = s.query_id
    ),
    rrr_ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS rnk
        FROM rrr
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           ROUND(cos, 6) AS score
    FROM rrr_ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_ivfpq_rerank(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """IVFADC+R (Jégou et al. 2011 §V): the residual tier's ADC ranking
    shortlists {SHORTLIST} candidates per query from the probed cells, then
    ONLY those rows are re-ranked with the exact cosine — the published
    refinement that recovers near-exact recall at O(N_QUERIES × SHORTLIST)
    exact-distance work.  Same contract as ``simsearch_topk_pq_reranked``,
    with the IVF prune and residual codes underneath.

    Scale shape: the residual tier's shape plus one broadcast-shortlist hash
    join on ``vec_id`` and a {SHORTLIST}-row-group re-rank window."""
    from alertas_spark.operators.topk import ranked_topk

    short = ranked_topk(_ivfpq_scored(spark, sf_dir), "query_id", "adc_q",
                        "vec_id", SHORTLIST, ascending=True)
    return _rerank_from_adc(spark, sf_dir, short)


# ---------------------------------------------------------------------------
# int8 scalar-quantized ANN tier (SQ8 full scan)
# ---------------------------------------------------------------------------
#
# The scalar-quantization baseline every PQ paper compares against (FAISS's
# SQ8 index): per-dimension affine codes over the NORMALIZED embeddings
# (so L2² on reconstructions is monotone in cosine, the same target as the
# PQ tiers), ranked by the SYMMETRIC integer code distance Σ(cq−cc)² — a
# pure-integer full scan at 8× compression (64 bytes vs 512).  Exactness is
# structural: codes are integers on both engines (the embedding_quantize_
# int8 contract), the distance is integer algebra, ties break on cand_id.

#: shared normalized-SQ8 oracle front half ending in ``i8(vec_id, codes)``.
_DUCK_INT8 = f"""{_DUCK_V},
    i8_dims AS (
        SELECT i, MIN(emb[i]) AS mn, (MAX(emb[i]) - MIN(emb[i])) / 255.0 AS sc
        FROM v, (SELECT unnest(generate_series(1, {DIM})) AS i) idx
        GROUP BY i
    ),
    i8_stats AS (SELECT list(mn ORDER BY i) AS mins,
                        list(sc ORDER BY i) AS scales
                 FROM i8_dims),
    i8 AS (
        SELECT vec_id,
               list_transform(generate_series(1, {DIM}),
                   i -> CASE WHEN scales[i] = 0 THEN 0
                             ELSE CAST(round((emb[i] - mins[i]) / scales[i])
                                       AS INTEGER) END) AS codes
        FROM v, i8_stats
    )"""


def _int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, codes)`` — the Spark twin of the ``i8`` CTE: per-dimension
    affine SQ8 codes over the normalized embeddings.  One global min/max
    aggregate (2·DIM partials) broadcast into a scan-side projection."""
    v = _normalized(spark, sf_dir)
    # per-dimension min/max via posexplode + a DIM-row agg: a 2·DIM-wide
    # single-row aggregate compiles a ~200-expression codegen stage for the
    # same numbers and measured ~2× slower
    dims = (v.select(F.posexplode("emb").alias("pos", "x"))
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(F.min("x").alias("mn"),
                 ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("sc")))
    from alertas_spark.operators import memo

    # the 1-row stats relation is memo.cached: the query side and the
    # candidate side of simsearch_topk_int8 each re-evaluated this full
    # posexplode + DIM-row aggregate (Catalyst does not dedupe identical
    # subtrees) — a 1-row cache makes the corpus-sized pass run once, at
    # zero cache-build cost (probed r18: caching the full coded relation
    # instead cost MORE CPU than the duplicate pass it saved)
    stats = memo.cached(dims.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mn"))),
                    lambda s: s["mn"]).alias("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "sc"))),
                    lambda s: s["sc"]).alias("scales")))
    codes = F.expr(f"""
        transform(sequence(1, {DIM}),
            i -> CASE WHEN element_at(scales, i) = 0.0D THEN 0
                      ELSE cast(round((element_at(emb, i)
                                       - element_at(mins, i))
                                      / element_at(scales, i)) as int) END)
    """)
    return (v.crossJoin(F.broadcast(stats))
            .withColumn("codes", codes)
            .select("vec_id", "codes"))


@declare(
    "simsearch_topk_int8",
    oracle=f"""
    WITH {_DUCK_INT8},
    i8q AS (SELECT vec_id, codes FROM i8 WHERE vec_id < {N_QUERIES}),
    i8scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               list_reduce(list_transform(generate_series(1, {DIM}),
                   i -> CAST(q.codes[i] - c.codes[i] AS BIGINT)
                        * (q.codes[i] - c.codes[i])), (a, b) -> a + b) AS d2
        FROM i8q q JOIN i8 c ON c.vec_id <> q.vec_id
    ),
    i8ranked AS (
        SELECT query_id, cand_id, d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2, cand_id) AS rnk
        FROM i8scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk,
           CAST(d2 AS BIGINT) AS score
    FROM i8ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 top-k: every candidate scored by the symmetric integer code
    distance Σ(cq−cc)² over per-dimension affine int8 codes of the
    normalized embeddings — the scalar-quantization ANN baseline (8×
    compression, full scan, ~brute-force recall; compare the PQ rows'
    256× compression at lower recall on the dashboard).  ``score`` is the
    exact integer distance: max per-dim diff 255² = 65025, ×{DIM} dims ≤
    4.2e6 — no overflow, no float seam anywhere in the ranking.

    Scale shape: one 2·{DIM}-partial global aggregate broadcast into a
    scan-side code projection, queries broadcast against the coded corpus
    scan, two-phase exact top-k — the ``simsearch_topk_pq`` plan class with
    integer arithmetic instead of LUT lookups."""
    from alertas_spark.operators.topk import ranked_topk

    coded = _int8_codes(spark, sf_dir)
    q = (coded.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("codes").alias("qcodes")))
    d2 = F.expr("aggregate(zip_with(qcodes, codes, "
                "(a, b) -> cast(a - b as bigint) * (a - b)), "
                "cast(0 as bigint), (acc, x) -> acc + x)")
    scored = (coded.join(F.broadcast(q),
                         F.col("query_id") != F.col("vec_id"))
              .withColumn("d2", d2)
              .select("query_id", "vec_id", "d2"))
    return (ranked_topk(scored, "query_id", "d2", "vec_id", TOP_K,
                        ascending=True)
            .select("query_id", F.col("vec_id").alias("cand_id"),
                    F.col("rnk").cast("int").alias("rnk"),
                    F.col("d2").cast("bigint").alias("score")))


# ---------------------------------------------------------------------------
# ANN quality dashboard: recall@k of every approximate tier vs brute force
# ---------------------------------------------------------------------------


def _counts_sql() -> str:
    """Per-(method, query) candidate-scan counts — ``counts(method,
    query_id, n_candidates)``: how many database vectors each tier actually
    evaluates a (compressed or exact) distance for.  Derived from the same
    assignment relations the tiers themselves use (hyperplane buckets,
    trained k-means cells, IVFADC probed cells), so the numbers are exact,
    not estimates; rerank tiers share their base tier's scan count (the
    re-rank touches a SHORTLIST-bounded subset of it)."""
    from alertas_spark.operators.embgate import EMB_VALID_SQL
    from alertas_spark.operators.kmeans import K as KM_K
    from alertas_spark.operators.kmeans import _duck_assign, _duck_update
    from alertas_spark.operators.simsearch import (_BUCKET_FROM_DOTS,
                                                   _WEAK_PLANE, _dots_select)

    hyper = f"""cnt_hyper AS MATERIALIZED (
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                   WHERE {EMB_VALID_SQL}),
        d AS (SELECT vec_id, emb, {_dots_select(one_based=True)} FROM v),
        b AS (SELECT vec_id, {_BUCKET_FROM_DOTS} AS bucket,
                     {_WEAK_PLANE} AS weak FROM d),
        h AS (SELECT bucket, COUNT(*) AS c FROM b GROUP BY bucket)
        SELECT q.vec_id AS query_id,
               h1.c - 1 AS n_ivf,
               h1.c + COALESCE(h2.c, 0) - 1 AS n_multi
        FROM b q
        JOIN h h1 ON h1.bucket = q.bucket
        LEFT JOIN h h2 ON h2.bucket = xor(q.bucket, 1 << q.weak)
        WHERE q.vec_id < {N_QUERIES}
    )"""
    trained = f"""cnt_trained AS MATERIALIZED (
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                   WHERE {EMB_VALID_SQL}),
        c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v
               WHERE vec_id < {KM_K}),
        {_duck_assign('c0', 'a1')},
        {_duck_update('a1', 'c1')},
        {_duck_assign('c1', 'a2')},
        h AS (SELECT cid, COUNT(*) AS c FROM a2 GROUP BY cid)
        SELECT a.vec_id AS query_id, h.c - 1 AS n_candidates
        FROM a2 a JOIN h USING (cid) WHERE a.vec_id < {N_QUERIES}
    )"""
    pqc = f"""cnt_pq AS MATERIALIZED (
        WITH v AS (SELECT vec_id FROM embeddings WHERE {EMB_VALID_SQL})
        SELECT vec_id AS query_id,
               (SELECT COUNT(*) FROM v) - 1 AS n_candidates
        FROM v WHERE vec_id < {N_QUERIES}
    )"""
    ivfpq = f"""cnt_ivfpq AS MATERIALIZED (
        WITH {_DUCK_V},
        {_duck_coarse()},
        {_DUCK_QP},
        h AS (SELECT cid, COUNT(*) AS c FROM a2 GROUP BY cid)
        SELECT qp.query_id, SUM(h.c) - 1 AS n_candidates
        FROM qp JOIN h USING (cid) GROUP BY qp.query_id
    )"""
    union = """counts AS MATERIALIZED (
        SELECT 'ivf' AS method, query_id, n_ivf AS n_candidates
        FROM cnt_hyper
        UNION ALL SELECT 'ivf_multiprobe', query_id, n_multi FROM cnt_hyper
        UNION ALL SELECT 'ivf_trained', query_id, n_candidates
        FROM cnt_trained
        UNION ALL SELECT 'pq', query_id, n_candidates FROM cnt_pq
        UNION ALL SELECT 'pq_rerank', query_id, n_candidates FROM cnt_pq
        UNION ALL SELECT 'ivfpq_residual', query_id, n_candidates
        FROM cnt_ivfpq
        UNION ALL SELECT 'ivfpq_rerank', query_id, n_candidates
        FROM cnt_ivfpq
        UNION ALL SELECT 'int8', query_id, n_candidates FROM cnt_pq
    )"""
    return ",\n    ".join([hyper, trained, pqc, ivfpq, union])


def _recall_oracle() -> str:
    # module imports (not just REGISTRY) so a standalone `import pq` still sees
    # the sibling declares — load_all() order already puts both before pq
    from alertas_spark.operators import kmeans  # noqa: F401
    from alertas_spark.operators.simsearch import (_duck_topk_assigned_sql,
                                                   _duck_topk_sql)
    from alertas_spark.registry import REGISTRY

    methods = {
        "ivf": _duck_topk_assigned_sql(),
        "ivf_multiprobe": REGISTRY["simsearch_topk_multiprobe"].oracle,
        "ivf_trained": REGISTRY["simsearch_topk_ivf_trained"].oracle,
        "pq": REGISTRY["simsearch_topk_pq"].oracle,
        "pq_rerank": REGISTRY["simsearch_topk_pq_reranked"].oracle,
        "ivfpq_residual": REGISTRY["simsearch_topk_ivfpq_residual"].oracle,
        "ivfpq_rerank": REGISTRY["simsearch_topk_ivfpq_rerank"].oracle,
        "int8": REGISTRY["simsearch_topk_int8"].oracle,
    }
    evals = "\nUNION ALL\n".join(f"""
    SELECT '{name}' AS method, bf.query_id,
           CAST(COUNT(ap.cand_id) AS INTEGER) AS n_match,
           ROUND(COUNT(ap.cand_id) / {TOP_K}, 6) AS recall_at_k
    FROM bf
    LEFT JOIN ({sql}) ap
      ON bf.query_id = ap.query_id AND bf.cand_id = ap.cand_id
    GROUP BY bf.query_id""" for name, sql in methods.items())
    return f"""
    WITH bf AS ({_duck_topk_sql(same_label=False)}),
    {_counts_sql()}
    SELECT e.method, e.query_id, e.n_match, e.recall_at_k,
           CAST(c.n_candidates AS BIGINT) AS n_candidates
    FROM ({evals}) e
    JOIN counts c ON c.method = e.method AND c.query_id = e.query_id
    """


def _candidate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the oracle's ``counts`` CTE: per (method, query),
    how many database vectors the tier's scan stage evaluates a distance for
    — exact integers derived from the same assignment relations the tiers
    use, so the dashboard judges every tier recall-VS-COST, not recall
    alone (a probe-1 trained tier that scans an eighth of the corpus is not
    comparable to an IVFADC tier scanning NPROBE cells of codes)."""
    from alertas_spark.operators.kmeans import trained_assignment
    from alertas_spark.operators.simsearch import (_BUCKET_FROM_DOTS,
                                                   _WEAK_PLANE,
                                                   _plane_dot_exprs)

    # hyperplane buckets over the valid embeddings (ivf + multiprobe)
    b = (_raw(spark, sf_dir)
         .withColumn("nrm", F.sqrt(norm2(F.col("emb"))))
         .filter(valid_nrm(F.col("nrm")))
         .selectExpr("vec_id", *[
             f"({d}) AS d{p}" for p, d
             in enumerate(_plane_dot_exprs(one_based=False))])
         .withColumn("bucket", F.expr(_BUCKET_FROM_DOTS))
         .withColumn("weak", F.expr(_WEAK_PLANE))
         .select("vec_id", "bucket", "weak"))
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))  # ≤16 rows
    hyper = (b.filter(F.col("vec_id") < N_QUERIES)
             .select(F.col("vec_id").alias("query_id"), "bucket", "weak")
             .join(F.broadcast(h.select(F.col("bucket").alias("b1"),
                                        F.col("c").alias("c1"))),
                   F.col("bucket") == F.col("b1"))
             .join(F.broadcast(h.select(F.col("bucket").alias("b2"),
                                        F.col("c").alias("c2"))),
                   F.expr("bucket ^ shiftleft(1, weak)") == F.col("b2"),
                   "left")
             .select("query_id",
                     (F.col("c1") - 1).alias("n_ivf"),
                     (F.col("c1") + F.coalesce("c2", F.lit(0)) - 1)
                     .alias("n_multi")))
    # trained k-means cells (probe-1)
    ta = trained_assignment(spark, sf_dir).select("vec_id", "cid")
    th = ta.groupBy("cid").agg(F.count(F.lit(1)).alias("c"))
    trained = (ta.filter(F.col("vec_id") < N_QUERIES)
               .join(F.broadcast(th), "cid")
               .select(F.col("vec_id").alias("query_id"),
                       (F.col("c") - 1).alias("n_candidates")))
    # flat ADC: every valid vector except self
    v = _normalized(spark, sf_dir).select("vec_id")
    pqc = (v.filter(F.col("vec_id") < N_QUERIES)
           .crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("nv"))))
           .select(F.col("vec_id").alias("query_id"),
                   (F.col("nv") - 1).alias("n_candidates")))
    # IVFADC: vectors in the NPROBE probed trained cells, except self
    c1 = _coarse_centroids(spark, sf_dir)
    ch = (_assign(_normalized(spark, sf_dir), c1)
          .groupBy("cid").agg(F.count(F.lit(1)).alias("c")))
    probes = spark.createDataFrame(
        _nearest_cells(_query_rows(spark, sf_dir), c1),
        "query_id long, cid long")
    ivfpq = (probes.join(F.broadcast(ch), "cid")
             .groupBy("query_id")
             .agg((F.sum("c") - 1).alias("n_candidates")))
    tiers = [
        hyper.select(F.lit("ivf").alias("method"), "query_id",
                     F.col("n_ivf").alias("n_candidates")),
        hyper.select(F.lit("ivf_multiprobe").alias("method"), "query_id",
                     F.col("n_multi").alias("n_candidates")),
        trained.select(F.lit("ivf_trained").alias("method"), "query_id",
                       "n_candidates"),
        pqc.select(F.lit("pq").alias("method"), "query_id", "n_candidates"),
        pqc.select(F.lit("pq_rerank").alias("method"), "query_id",
                   "n_candidates"),
        ivfpq.select(F.lit("ivfpq_residual").alias("method"), "query_id",
                     "n_candidates"),
        ivfpq.select(F.lit("ivfpq_rerank").alias("method"), "query_id",
                     "n_candidates"),
        pqc.select(F.lit("int8").alias("method"), "query_id",
                   "n_candidates"),
    ]
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.select("method", "query_id",
                      F.col("n_candidates").cast("bigint")
                      .alias("n_candidates"))


@declare("simsearch_recall_dashboard", oracle=_recall_oracle())
def simsearch_recall_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness as a declared query: recall@k per query of EVERY
    approximate tier — hyperplane-assigned IVF, compressed-domain PQ, and
    PQ + exact re-rank — against the exact brute-force top-k.  The evaluation
    every accuracy claim in this module and simsearch.py rests on, runnable
    (and oracle-checked) at any scale; each tier is the declared plan itself,
    joined to the truth set on (query, candidate).

    Each row also carries ``n_candidates`` — how many database vectors that
    tier's scan stage evaluates a distance for (exact, derived from the same
    assignment relations the tiers use; rerank tiers share their base scan
    count, the re-rank adds ≤{SHORTLIST} exact distances) — so tiers are
    judged recall-VS-COST, the actual ANN-selection question.  Mean
    (recall@5, candidates) on the sf0.01 fixture (499 valid vectors): ivf
    (0.20, 34), ivf_multiprobe (0.30, 63), ivfpq_residual (0.30, 255
    compressed codes at 32× compression), pq (0.34, 499 codes), pq_rerank
    (0.58, 499), ivf_trained (0.76, 62 exact), ivfpq_rerank (0.84, 255),
    int8 (0.86, 499 SQ8 codes at 8× compression) — the cost/quality ladder
    a user picks from (probe count, training, residual encoding,
    quantization width, and re-ranking are the five knobs).
    At sf0.1 the residual tier overtakes flat PQ decisively (0.22 vs 0.14)
    while scanning only NPROBE=4 of the 8 cells — the published IVFADC
    property (the sf0.01 gap is two pairs of seed noise on a 500-vector
    corpus) — and IVFADC+R holds the rerank crown there too (0.68 vs
    pq_rerank's 0.56): the residual shortlist captures better candidates
    than the flat-PQ shortlist at every scale.

    Reuse structure (results identical to running each declared tier alone):
    the ADC shortlist is computed ONCE and shared by the pq and pq_rerank tiers
    (a {SHORTLIST}-row-per-query checkpoint instead of two full compressed-domain
    scans); the trained-IVF tier reuses the session-memoized k-means assignment
    (operators/memo.py); and every tier's tiny (query, cand) result set is
    memoized so back-to-back runs (bench passes, driver + verify in one session)
    pay the tier plans once."""
    from alertas_spark.operators.kmeans import simsearch_topk_ivf_trained
    from alertas_spark.operators.simsearch import (simsearch_topk_bruteforce,
                                                   simsearch_topk_ivf_assigned,
                                                   simsearch_topk_multiprobe)

    def adc_short() -> DataFrame:
        return _adc_topk(spark, sf_dir, SHORTLIST).localCheckpoint()

    shortlist = session_value(spark, ("dashboard_adc_short", sf_dir), adc_short)
    methods = {
        "ivf": lambda: simsearch_topk_ivf_assigned(spark, sf_dir),
        "ivf_multiprobe": lambda: simsearch_topk_multiprobe(spark, sf_dir),
        "ivf_trained": lambda: simsearch_topk_ivf_trained(spark, sf_dir),
        "pq": lambda: _topk_from_adc(shortlist),
        "pq_rerank": lambda: _rerank_from_adc(spark, sf_dir, shortlist),
        "ivfpq_residual": lambda: simsearch_topk_ivfpq_residual(spark, sf_dir),
        "ivfpq_rerank": lambda: simsearch_topk_ivfpq_rerank(spark, sf_dir),
        "int8": lambda: simsearch_topk_int8(spark, sf_dir),
    }
    # Truth set computed ONCE (the brute-force scan is the expensive side),
    # replicated across the five method labels; all tiers union into one tiny
    # broadcast side so the whole dashboard is a single join + single agg.
    # The truth set is GROUND-TRUTH INFRASTRUCTURE, not a tier under
    # evaluation, and it is deterministic per embeddings fingerprint — so it
    # persists in the artifact store and later sessions skip the brute-force
    # scan entirely.  The five tier plans deliberately recompute every
    # session: they are the measured subject, and artifact-serving their
    # outputs would turn the dashboard into a cache read.
    bf = (persistent_artifact(
              spark, sf_dir, "dashboard_bf_truth", code_version="1",
              table="embeddings",
              build=lambda: simsearch_topk_bruteforce(spark, sf_dir)
              .select("query_id", "cand_id"))
          .crossJoin(F.broadcast(
              spark.createDataFrame([(m,) for m in methods], "method string"))))
    # the eight tier materializations (and the candidate-count audit) are
    # independent Spark actions — overlap them (guide §2.6) so the dashboard's
    # wall-clock tracks the slowest tier instead of the sum; tiers sharing a
    # trained artifact (the IVFADC pair's coarse centroids + residual
    # codebook) serialize on that artifact's per-key memo lock and train it
    # once, exactly as sequentially
    from alertas_spark.operators.memo import overlap

    tiers = overlap(spark, [
        (lambda n=name, b=build: session_value(
            spark, ("dashboard_tier", n, sf_dir),
            lambda: b().select("query_id", "cand_id").localCheckpoint()))
        for name, build in methods.items()
    ] + [lambda: session_value(
        spark, ("dashboard_counts", sf_dir),
        lambda: _candidate_counts(spark, sf_dir).localCheckpoint())],
        max_workers=5)
    counts = tiers.pop()
    ap = None
    for name, tier_df in zip(methods, tiers):
        tier = tier_df.select(
            F.lit(name).alias("am"), F.col("query_id").alias("aq"),
            F.col("cand_id").alias("ac"))
        ap = tier if ap is None else ap.unionByName(tier)
    return (
        bf.join(F.broadcast(ap), (F.col("method") == F.col("am"))
                & (F.col("query_id") == F.col("aq"))
                & (F.col("cand_id") == F.col("ac")), "left")
        .groupBy("method", "query_id")
        .agg(F.count("ac").cast("int").alias("n_match"),
             F.round(F.count("ac") / TOP_K, 6).alias("recall_at_k"))
        .join(F.broadcast(counts), ["method", "query_id"])
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (per-dimension affine)
# ---------------------------------------------------------------------------


@declare(
    "embedding_quantize_int8",
    oracle=f"""
    WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
                WHERE {EMB_VALID_SQL}),
    idx AS (SELECT unnest(generate_series(1, {DIM})) AS i),
    dims AS (
        SELECT i, MIN(x[i]) AS mn, (MAX(x[i]) - MIN(x[i])) / 255.0 AS sc
        FROM ev, idx GROUP BY i
    ),
    stats AS (SELECT list(mn ORDER BY i) AS mins, list(sc ORDER BY i) AS scales
              FROM dims),
    coded AS (
        SELECT vec_id, x, mins, scales,
               list_transform(generate_series(1, {DIM}),
                   i -> CASE WHEN scales[i] = 0 THEN 0
                             ELSE CAST(round((x[i] - mins[i]) / scales[i])
                                       AS INTEGER) END) AS codes
        FROM ev, stats
    )
    SELECT vec_id,
           md5(array_to_string(codes, ',')) AS codes_md5,
           ROUND(list_reduce(list_transform(generate_series(1, {DIM}),
                     i -> pow(x[i] - (mins[i] + codes[i] * scales[i]), 2)),
                 (a, b) -> a + b) / {DIM}, 6) AS mse,
           ROUND(list_max(list_transform(generate_series(1, {DIM}),
                     i -> abs(x[i] - (mins[i] + codes[i] * scales[i])))), 6)
               AS max_abs_err
    FROM coded
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization: 4x embedding compression with
    per-vector reconstruction-error accounting (the standard scalar-quantization
    baseline PQ is compared against).

    code_i = round((x_i - min_i) / scale_i), scale_i = (max_i - min_i)/255 —
    corpus-wide per-dimension ranges, so codes are comparable across vectors.

    Scale shape: pass 1 is ONE global aggregate (2·DIM min/max partials,
    tree-merged); its single row broadcasts into pass 2, a pure scan-side
    projection — zero shuffles, embarrassingly parallel.  The per-row O(DIM)
    HOF folds are sequential left-to-right doubles, bit-equal to the oracle's
    ``list_reduce``.  Output pins the exact codes via an md5 fingerprint
    (64 int columns would bloat the compare) + mse / max-abs reconstruction
    error; a production sink would store the codes as ``array<tinyint>``.
    Constant dimensions (scale 0) code to 0 and reconstruct exactly."""
    v = (valid_embeddings(load_table(spark, sf_dir, "embeddings"))
         .select("vec_id", F.col("embedding").cast("array<double>").alias("x")))
    stats = v.agg(
        F.array(*[F.min(F.element_at("x", i + 1)) for i in range(DIM)])
         .alias("mins"),
        F.array(*[((F.max(F.element_at("x", i + 1))
                    - F.min(F.element_at("x", i + 1))) / F.lit(255.0))
                  for i in range(DIM)]).alias("scales"),
    )
    codes = F.expr(f"""
        transform(sequence(1, {DIM}),
            i -> CASE WHEN element_at(scales, i) = 0.0D THEN 0
                      ELSE cast(round((element_at(x, i) - element_at(mins, i))
                                      / element_at(scales, i)) as int) END)
    """)
    recon_err = (f"element_at(x, i) - (element_at(mins, i) "
                 f"+ element_at(codes, i) * element_at(scales, i))")
    return (
        v.crossJoin(F.broadcast(stats))
        .withColumn("codes", codes)
        .select(
            "vec_id",
            F.md5(F.array_join(F.transform("codes",
                                           lambda c: c.cast("string")), ","))
             .alias("codes_md5"),
            F.round(F.expr(
                f"aggregate(sequence(1, {DIM}), cast(0.0 as double), "
                f"(acc, i) -> acc + pow({recon_err}, 2))") / DIM, 6).alias("mse"),
            F.round(F.expr(
                f"array_max(transform(sequence(1, {DIM}), "
                f"i -> abs({recon_err})))"), 6).alias("max_abs_err"),
        )
    )
