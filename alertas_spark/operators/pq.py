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

* **encode** — the codebook (the seed: sub-vectors of the first KSUB
  normalized vectors, one bounded pull; or the trained rows of one fused
  Lloyd job) is driver-held; encoding is ONE numpy ``mapInPandas`` pass over
  the scan's batches (``_encoded``: normalize, per-subspace first-minimum
  argmin, sequential-fold distances, so the codes are bit-deterministic
  across engines and partitionings) — ZERO shuffles, embarrassingly
  parallel at 100 TB.
* **ADC top-k** — one scan for every PQ tier (``_adc_topk``): the per-query
  LUTs (N_QUERIES × cells × 4×16), the coarse centroids and the codebook
  are tiny driver artifacts shipped to every task with the kernel; the
  coarse assign, codes and approximate distances are vectorized numpy
  inside ONE ``mapInPandas`` scan that emits only its partition-local top-k
  per query; the single shuffle is the exact final rank over ≤ k ·
  n_partitions rows per query (two-phase top-k, operators/topk.py) — never
  a full-corpus sort in N_QUERIES tasks.  Flat PQ is the one-cell case.

All distances are sequential left-to-right double folds (the ``simsearch._dot``
contract), bit-equal to the DuckDB oracle's ``list_reduce``.

No reference counterpart (the reference has no vector ops); extension operator
per the training-data-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from alertas_spark.operators.artifacts import (bounded_rows,
                                               persistent_artifact,
                                               persistent_artifact_rows)
from alertas_spark.operators.kmeans import (_assign, _codebooks, _nearest,
                                            _seq_subdist,
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
    """``(codes, d)``, both ``(n, M)``: per row and subspace, the position of
    the nearest codeword of ``cb`` ``(M, KS, SUBDIM)`` (the FIRST minimum:
    ties to the lowest id) and its ``_seq_subdist``."""
    import numpy as np

    d = np.stack([_seq_subdist(mat[:, None, m * SUBDIM:(m + 1) * SUBDIM],
                               cb[m]) for m in range(M)], axis=1)
    return d.argmin(axis=2), d.min(axis=2)


def _sub_seed(vecs: dict) -> list:
    """The seed codebook ``(m, c, cvec)`` of ``{vec_id: vector}``: codeword
    ``c`` of subspace ``m`` is sub-vector ``m`` of the vector ``vec_id == c``
    for the first KSUB vectors."""
    return [Row(m=m + 1, c=int(q),
                cvec=vecs[q][m * SUBDIM:(m + 1) * SUBDIM].tolist())
            for m in range(M) for q in sorted(vecs) if q < KSUB]


def _subspace_book(cw: list):
    """``(ids, cb)`` of ``(m, c, cvec)`` rows: the ascending codeword ids and
    the ``(M, KS, SUBDIM)`` codebook, both indexed by ``_pq_codes``
    positions (every subspace holds the same ids: ``_sub_seed``'s).  A
    codebook missing a subspace raises."""
    import numpy as np

    books, _ = _codebooks(cw, "c", "m")
    ms = sorted(books)
    if ms != list(range(1, M + 1)):
        raise ValueError(f"codebook covers subspaces {ms}, expected 1..{M}")
    return books[1][0], np.stack([books[m][1] for m in ms])


def _q9(x):
    """``x`` in 1e-9 units as int64, rounded half away from zero: Spark's
    ``round(x * 1e9)`` cast to bigint.  ``a - floor(a)`` is exact below
    2⁵², so the half test sees the product's exact fraction (``np.round``
    rounds half to even and ``floor(a + 0.5)`` double-rounds below ½)."""
    import numpy as np

    y = np.asarray(x, dtype=np.float64) * 1e9
    a = np.abs(y)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), y).astype(np.int64)


def _encoded(spark: SparkSession, sf_dir: str, cw: list, qerr) -> DataFrame:
    """``(vec_id, code_1..code_M, qerr)``: per valid vector, the nearest
    codeword id of ``cw`` per subspace and ``qerr(d)`` of the ``(n, M)``
    sub-distances, rounded to 6 places — the one encoder, ONE numpy
    ``mapInPandas`` pass (``_unit_rows``, ``_pq_codes``), zero shuffles."""
    import numpy as np
    import pandas as pd

    ids, cb = _subspace_book(cw)

    def encode(batches):
        for pdf in batches:
            vids, mat = _unit_rows(pdf)
            codes, d = _pq_codes(mat, cb)
            yield pd.DataFrame({
                "vec_id": vids,
                **{f"code_{m + 1}": ids[codes[:, m]].astype(np.int32)
                   for m in range(M)},
                "qerr": qerr(d)})

    enc = _raw(spark, sf_dir).mapInPandas(
        encode, "vec_id long, code_1 int, code_2 int, code_3 int, "
        "code_4 int, qerr double")
    return enc.withColumn("qerr", F.round("qerr", 6))


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
    # qerr sums the sub-distances left to right, as the oracle's
    # list_reduce over `d ORDER BY m` does
    return _encoded(spark, sf_dir, _sub_seed(_head_rows(spark, sf_dir)),
                    lambda d: d[:, 0] + d[:, 1] + d[:, 2] + d[:, 3])


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


#: flat PQ as an IVFADC index of one cell at the origin: every vector's
#: residual is the vector itself and every query probes the one cell
_ORIGIN = [Row(cid=0, cvec=[0.0] * DIM)]


def _pq_tier(spark: SparkSession, sf_dir: str) -> tuple:
    """Flat PQ's ``(c1, cw, qids, probe, lut)`` for :func:`_adc_topk`: the
    one-cell index over the seed codebook, with double LUTs (the oracle sums
    them as doubles in subspace order)."""
    cw = _sub_seed(_head_rows(spark, sf_dir))
    return (_ORIGIN, cw, *_probe_lut(_query_rows(spark, sf_dir), _ORIGIN, cw))


def _adc_topk(spark: SparkSession, sf_dir: str, depth: int,
              tier: tuple) -> DataFrame:
    """(query_id, vec_id, adist, rnk ≤ depth): the exact per-query top-``depth``
    by ADC distance ascending, ties to the lowest candidate id — row-identical
    to ranking EVERY candidate (the ``_DUCK_ADC_RANKED`` / ``rk`` oracles).
    The one ADC scan of every PQ tier, over ``tier`` = ``(c1, cw, qids,
    probe, lut)`` (:func:`_pq_tier`, :func:`_ivfpq_tier`).  Per batch of
    ONE ``mapInPandas`` pass: ``_unit_rows``; the coarse assign and residual
    (``kmeans._nearest`` with ``with_cvec``, as ``_residual_subs``); the
    residual's codes (``_pq_codes``); per query, over its probed cells but
    itself, the M LUT lookups summed in subspace order — doubles or int64
    as the LUT is, and ``adist`` takes its type.  Each partition emits its
    local top-``depth`` per query: the two-phase top-k (operators/topk.py)."""
    import numpy as np
    import pandas as pd

    c1, cw, qids, probe, lut = tier
    books = _codebooks(c1, "cid", None)[0]
    cids, cb = books[None][0], _subspace_book(cw)[1]

    def gen(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            ids, mat = _unit_rows(pdf)
            if not len(ids):
                continue
            cid, _, cent = _nearest(mat, None, books, "emb", with_cvec=True)
            cell = np.searchsorted(cids, cid)
            codes, _ = _pq_codes(mat - cent, cb)
            tops = []
            for qi, q in enumerate(qids):
                # probed cells only; a query never matches itself
                sel = np.flatnonzero(probe[qi, cell] & (ids != q))
                c, cd = cell[sel], codes[sel]
                dd = lut[qi, c, 0, cd[:, 0]]
                for m in range(1, M):
                    dd = dd + lut[qi, c, m, cd[:, m]]
                top = np.lexsort((ids[sel], dd))[:depth]
                tops.append(pd.DataFrame({"query_id": np.full(len(top), q),
                                          "vec_id": ids[sel][top],
                                          "adist": dd[top]}))
            best = merge_shortlist(best, pd.concat(tops, ignore_index=True),
                                   ["query_id"], "adist", "vec_id", depth)
        if best is not None and len(best):
            yield best

    adist = "long" if lut.dtype.kind == "i" else "double"
    scored = _raw(spark, sf_dir).mapInPandas(
        gen, f"query_id long, vec_id long, adist {adist}")
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
    the raw vectors — only the 4-int codes and the per-query LUTs."""
    return _topk_from_adc(_adc_topk(spark, sf_dir, TOP_K,
                                    _pq_tier(spark, sf_dir)))


def _topk_from_adc(adc: DataFrame) -> DataFrame:
    """ADC ranking (a scan, or the dashboard's checkpointed shortlist) →
    top-k result shape; an integral ``adist`` (1e-9 units) scores as
    ``adist / 1e9``, both rounded to 6 places."""
    d = F.col("adist")
    if isinstance(adc.schema["adist"].dataType, LongType):
        d = d.cast("double") / 1e9
    return (
        adc.filter(F.col("rnk") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("cand_id"),
                F.col("rnk").cast("int").alias("rnk"),
                F.round(d, 6).alias("score"))
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
    return _rerank_from_adc(spark, sf_dir, _adc_topk(
        spark, sf_dir, SHORTLIST, _pq_tier(spark, sf_dir)))


def _rerank_from_adc(spark: SparkSession, sf_dir: str, adc: DataFrame) -> DataFrame:
    """SHORTLIST-deep ADC ranking → exact-cosine re-rank: the one re-rank of
    PQ+R and IVFADC+R, standalone and on the recall dashboard.

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


_CODEBOOK_SCHEMA = "m int, c int, cvec array<double>"


def _slices(df: DataFrame, vec: str) -> DataFrame:
    """``(vec_id, m, sub)``: the M subspace slices of each ``vec`` — the
    input rows of a codebook's Lloyd update."""
    return df.select("vec_id", F.posexplode(F.expr(
        f"transform(sequence(1, {M}), m -> slice({vec}, (m - 1) * {SUBDIM} "
        f"+ 1, {SUBDIM}))")).alias("m0", "sub")
    ).select("vec_id", (F.col("m0") + 1).alias("m"), "sub")


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
    head rows (``_head_rows``); the Lloyd update is ONE Spark job, the fused
    kernel (``kmeans.lloyd_means``, grouped by ``m``); the re-assign is
    ``pq_encode``'s one numpy pass (``_encoded``): zero shuffles.  The qerr
    sum quantizes each sub-distance to 1e-9-unit integers (``_q9``) so the
    4-term sum is order-independent."""
    subs = _slices(_normalized(spark, sf_dir), "emb")

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
    return _encoded(spark, sf_dir, cw1, lambda d: _q9(d).sum(axis=1) / 1e9)


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
# The 10-query side (probed cells, LUT of N_QUERIES·KC·M·KSUB entries) is
# driver numpy over the same head rows (``_probe_lut``), quantized once to
# 1e-9-unit integers (``_q9``).  The search is flat PQ's ADC scan
# (``_adc_topk``): per batch, the coarse assign and residual, the residual
# codes, and per query only the candidates of its probed cells (the IVF
# prune), each scored by 4 integer LUT lookups; the final rank is the
# two-phase exact top-k.  Nothing driver-side grows with the corpus.
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
    """(vec_id, m, sub): the residual codebook's training slices — the
    argmin kernel returns the winning centroid's vector (``with_cvec``), so
    the residual is a zip_with projection with no join-back."""
    a2 = _assign(_normalized(spark, sf_dir), c1, with_cvec=True)
    return _slices(a2.select(
        "vec_id", F.zip_with("emb", "cvec", lambda x, c: x - c).alias("r")),
        "r")


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


def _probe_lut(queries: dict, c1: list, cw: list) -> tuple:
    """``(qids, probe, lut)`` for driver-held ``{query_id: unit vector}``:
    the ascending query ids; ``probe`` ``(nq, C)`` marks each query's NPROBE
    nearest of the ``C`` centroids of ``c1`` in ascending cid order
    (:func:`_nearest_cells`); ``lut`` ``(nq, C, M, KS)`` holds, for each
    probed cell, the ``_seq_subdist`` of the query's residual against that
    centroid, sliced to subspace ``m``, and each codeword of ``cw`` (the
    oracle's ``lut``), and 0.0 for cells not probed.  A codebook missing a
    subspace raises (``_subspace_book``)."""
    import numpy as np

    cb = _subspace_book(cw)[1]
    cids, cents = _codebooks(c1, "cid", None)[0][None]
    qids = np.array(sorted(queries), dtype=np.int64)
    probe = np.zeros((len(qids), len(cids)), dtype=bool)
    lut = np.zeros((len(qids), len(cids), M, cb.shape[1]))
    for qid, cid in _nearest_cells(queries, c1):
        qi, ci = np.searchsorted(qids, qid), np.searchsorted(cids, cid)
        probe[qi, ci] = True
        qr = queries[qid] - cents[ci]
        lut[qi, ci] = _seq_subdist(qr.reshape(M, 1, SUBDIM), cb)
    return qids, probe, lut


def _query_rows(spark: SparkSession, sf_dir: str) -> dict:
    return {q: v for q, v in _head_rows(spark, sf_dir).items()
            if q < N_QUERIES}


def _ivfpq_tier(spark: SparkSession, sf_dir: str) -> tuple:
    """IVFADC's ``(c1, cw, qids, probe, lut)`` for :func:`_adc_topk`: the
    trained coarse centroids and residual codebook, with the LUT quantized
    once to 1e-9-unit int64 (``_q9``), so the scan's 4-term sums are exact
    integers (the oracle's ``SUM(CAST(ROUND(sd * 1e9) AS BIGINT))``)."""
    c1 = _coarse_centroids(spark, sf_dir)
    cw1 = _residual_codebook(spark, sf_dir, c1)
    qids, probe, lut = _probe_lut(_query_rows(spark, sf_dir), c1, cw1)
    return c1, cw1, qids, probe, _q9(lut)


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
    """IVFADC top-k: probe the NPROBE nearest trained coarse cells, score
    every candidate in them by summed LUT lookups over its residual PQ code
    (each sub-distance quantized to 1e-9-unit integers before the 4-term
    sum), exact two-phase rank ascending — the ADC scan (``_adc_topk``)
    over the IVFADC index.  ``score`` is the approximate L2² between query
    and candidate residual reconstructions — monotone in the ranking,
    comparable to ``simsearch_topk_pq``'s ADC distance."""
    return _topk_from_adc(_adc_topk(spark, sf_dir, TOP_K,
                                    _ivfpq_tier(spark, sf_dir)))


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
    shortlists SHORTLIST candidates per query from the probed cells, then
    ONLY those rows are re-ranked with the exact cosine — the published
    refinement that recovers near-exact recall at O(N_QUERIES × SHORTLIST)
    exact-distance work.  Same contract and shape as
    ``simsearch_topk_pq_reranked`` (``_rerank_from_adc`` over a
    SHORTLIST-deep ADC scan), with the IVF prune and residual codes
    underneath."""
    return _rerank_from_adc(spark, sf_dir, _adc_topk(
        spark, sf_dir, SHORTLIST, _ivfpq_tier(spark, sf_dir)))


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


def _sq8(v: DataFrame, x: str, stats=lambda s: s) -> DataFrame:
    """``v`` plus ``mins`` / ``scales`` (per dimension of ``x``: the minimum,
    ``(max − min) / 255``) and the affine SQ8 ``codes`` — the one quantizer
    (the oracles' ``i8`` / ``coded``).  ``stats`` wraps the 1-row stats
    relation, broadcast into a scan-side code projection."""
    # per-dimension min/max via posexplode + a DIM-row agg: a 2·DIM-wide
    # single-row aggregate compiles a ~200-expression codegen stage for the
    # same numbers and measured ~2× slower
    dims = (v.select(F.posexplode(x).alias("pos", "x"))
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(F.min("x").alias("mn"),
                 ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("sc")))
    st = stats(dims.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "mn"))),
                    lambda s: s["mn"]).alias("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "sc"))),
                    lambda s: s["sc"]).alias("scales")))
    codes = F.expr(f"""
        transform(sequence(1, {DIM}),
            i -> CASE WHEN element_at(scales, i) = 0.0D THEN 0
                      ELSE cast(round((element_at({x}, i)
                                       - element_at(mins, i))
                                      / element_at(scales, i)) as int) END)
    """)
    return v.crossJoin(F.broadcast(st)).withColumn("codes", codes)


def _int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, codes)`` — the Spark twin of the ``i8`` CTE: per-dimension
    affine SQ8 codes over the normalized embeddings."""
    from alertas_spark.operators import memo

    # the 1-row stats relation is memo.cached: the query side and the
    # candidate side of simsearch_topk_int8 each re-evaluated this full
    # posexplode + DIM-row aggregate (Catalyst does not dedupe identical
    # subtrees) — a 1-row cache makes the corpus-sized pass run once, at
    # zero cache-build cost (probed r18: caching the full coded relation
    # instead cost MORE CPU than the duplicate pass it saved)
    return (_sq8(_normalized(spark, sf_dir), "emb", memo.cached)
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

    Scale shape: one DIM-row per-dimension aggregate (``_sq8``) broadcast
    into a scan-side code projection, queries broadcast against the coded
    corpus scan, two-phase exact top-k — the ``simsearch_topk_pq`` plan
    class with integer arithmetic instead of LUT lookups."""
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
    each PQ index is scanned ONCE, SHORTLIST deep (``_adc_topk``, a
    SHORTLIST-row-per-query checkpoint), and that shortlist feeds both of its
    tiers — pq and pq_rerank over the flat index, ivfpq_residual and
    ivfpq_rerank over the IVFADC index; a top-k tier is the top TOP_K of the
    shortlist, exactly the standalone tier's scan at depth TOP_K.  The two
    tiers of a pair serialize on the shortlist's memo lock and scan once.
    The trained-IVF tier reuses the session-memoized k-means assignment
    (operators/memo.py); and every tier's tiny (query, cand) result set is
    memoized so back-to-back runs (bench passes, driver + verify in one session)
    pay the tier plans once."""
    from alertas_spark.operators.kmeans import simsearch_topk_ivf_trained
    from alertas_spark.operators.simsearch import (simsearch_topk_bruteforce,
                                                   simsearch_topk_ivf_assigned,
                                                   simsearch_topk_multiprobe)

    def shortlist(tier) -> DataFrame:
        return session_value(
            spark, ("dashboard_adc_short", tier.__name__, sf_dir),
            lambda: _adc_topk(spark, sf_dir, SHORTLIST,
                              tier(spark, sf_dir)).localCheckpoint())

    methods = {
        "ivf": lambda: simsearch_topk_ivf_assigned(spark, sf_dir),
        "ivf_multiprobe": lambda: simsearch_topk_multiprobe(spark, sf_dir),
        "ivf_trained": lambda: simsearch_topk_ivf_trained(spark, sf_dir),
        "pq": lambda: _topk_from_adc(shortlist(_pq_tier)),
        "pq_rerank": lambda: _rerank_from_adc(spark, sf_dir,
                                              shortlist(_pq_tier)),
        "ivfpq_residual": lambda: _topk_from_adc(shortlist(_ivfpq_tier)),
        "ivfpq_rerank": lambda: _rerank_from_adc(spark, sf_dir,
                                                 shortlist(_ivfpq_tier)),
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

    Scale shape: pass 1 is the per-dimension min/max aggregate (``_sq8``:
    DIM rows, one small shuffle); its single stats row broadcasts into pass
    2, a pure scan-side projection, embarrassingly parallel.  The per-row O(DIM)
    HOF folds are sequential left-to-right doubles, bit-equal to the oracle's
    ``list_reduce``.  Output pins the exact codes via an md5 fingerprint
    (64 int columns would bloat the compare) + mse / max-abs reconstruction
    error; a production sink would store the codes as ``array<tinyint>``.
    Constant dimensions (scale 0) code to 0 and reconstruct exactly."""
    v = (valid_embeddings(load_table(spark, sf_dir, "embeddings"))
         .select("vec_id", F.col("embedding").cast("array<double>").alias("x")))
    recon_err = (f"element_at(x, i) - (element_at(mins, i) "
                 f"+ element_at(codes, i) * element_at(scales, i))")
    return (
        _sq8(v, "x")
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
