"""Deterministic k-means — the IVF centroid *trainer* as a declared query.

Two Lloyd iterations over the embedding table, fully deterministic and therefore
DuckDB-oracle-checkable (the same property that makes it idempotent across cluster
re-runs):

* init: centroids = the first ``K`` vectors by ``vec_id`` (seeded, not sampled);
* assignment: argmin of the squared L2 distance, computed as a sequential
  left-to-right fold (bit-equal across engines), ties to the lowest centroid id;
* update: per-dimension mean via EXACT decimal accumulation (functions/numeric.py
  contract) — the one step where naive double summation would diverge between
  partitionings and engines.

Scale shape per Lloyd update: the ≤K centroid rows are driver-held (K×dim
doubles are always tiny) and ride into ONE numpy kernel over the scan's Arrow
batches (``lloyd_means``, ``mapInArrow``) that assigns every row and, per
partition, sums its cluster's members: one count and the integer sums of the
unscaled ``decimal(29,6)`` components, cast in the JVM in front of the
kernel.  The partials — at most one row per cluster per partition — come back
in ONE plain collect; the driver adds them as Python ints and finishes
``cast(sum AS double) / count``.  A round is one Spark job with no exchange,
no broadcast, no join and no interpreted per-row fold.  The loop structure is
exactly GraphX/Spark-ML's kmeans; the decimal-sum means are the price of
cross-engine bit-equality and cost one extra cast.

The trained assignment feeds ``simsearch_topk_ivf`` / the blocked dedup as their
coarse partition — closing the loop from raw embeddings to a *trained* IVF index
(the hyperplane partitioner in simsearch.py is the train-free alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DecimalType, DoubleType, LongType,
                               StructField, StructType)

from alertas_spark.operators.artifacts import bounded_rows, persistent_artifact
from alertas_spark.operators.embgate import (EMB_VALID_SQL, norm2,
                                             valid_embeddings)
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

K = 8
DIM = 64

_DUCK_DIST = ("list_reduce(list_transform(range(1, 65), "
              "i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i])), "
              "(x, y) -> x + y)")


def _duck_assign(centroid_cte: str, out_name: str) -> str:
    """Assignment CTE: per vector, the centroid minimizing sequential-fold L2²."""
    return f"""
    {out_name}_scored AS (
        SELECT e.vec_id, e.emb, c.cid, {_DUCK_DIST} AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_DUCK_DIST}, c.cid) AS rn
        FROM v e, {centroid_cte} c
    ), {out_name} AS (
        SELECT vec_id, emb, cid, dist FROM {out_name}_scored WHERE rn = 1
    )"""


def _duck_update(assign_cte: str, out_name: str) -> str:
    """Update CTE: per-dimension decimal-exact mean of the assigned vectors."""
    return f"""
    {out_name}_sums AS (
        SELECT cid, dim,
               CAST(CAST(SUM(CAST(emb[dim] AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
        FROM {assign_cte}, range(1, {DIM} + 1) t(dim)
        GROUP BY cid, dim
    ), {out_name} AS (
        SELECT cid, list(m ORDER BY dim) AS cvec FROM {out_name}_sums GROUP BY cid
    )"""


_DUCK_ORACLE = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v WHERE vec_id < {K}),
    {_duck_assign('c0', 'a1')},
    {_duck_update('a1', 'c1')},
    {_duck_assign('c1', 'a2')}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, ROUND(dist, 6) AS dist
    FROM a2
"""


def _seq_subdist(a, b):
    """Sequential left-fold of Σ(aᵢ−bᵢ)² over the LAST axis — operation-for-
    operation the Spark ``aggregate(zip_with(..))`` / DuckDB ``list_reduce``
    fold (single IEEE add per step, no pairwise regrouping, no FMA), so
    results are bit-equal to both engines.  The one fold behind every numpy
    distance: the argmin kernel below, the PQ encode / ADC scans
    (pq._pq_codes) and the PQ / IVFADC query tables (pq._probe_lut)."""
    diff = a - b
    sq = diff * diff
    d = sq[..., 0].copy()
    for i in range(1, sq.shape[-1]):
        d += sq[..., i]
    return d


def _codebooks(items: list, key: str, group: str | None) -> tuple[dict, int]:
    """``({group: (ids, codebook)}, width)`` of driver-held ``(key[, group],
    cvec)`` rows: each group's items sorted by ascending id, so the FIRST
    minimum of an argmin is the lowest id.  Codebook widths must agree."""
    import numpy as np

    books: dict = {}
    for r in sorted(items, key=lambda r: r[key]):
        books.setdefault(r[group] if group else None, []).append(r)
    books = {g: (np.array([r[key] for r in rs], dtype=np.int64),
                 np.array([r["cvec"] for r in rs], dtype=np.float64))
             for g, rs in books.items()}
    widths = {cb.shape[1] for _, cb in books.values()}
    if len(widths) > 1:
        raise ValueError(f"kmeans: codebook widths {sorted(widths)} "
                         "differ")
    return books, widths.pop() if widths else 0


def _nearest(mat, gv, books: dict, what: str, with_cvec: bool = False):
    """``(win, best, cv)`` per row of ``mat`` ``(n, width)``: the id of the
    nearest item of the row's group (``gv``, ``None`` when ungrouped), its
    :func:`_seq_subdist` and, with ``with_cvec``, its vector.  The one argmin
    loop behind every kernel and driver-side assign."""
    import numpy as np

    n, width = mat.shape
    groups = np.unique(gv) if gv is not None else [None]
    missing = [g for g in groups if g not in books]
    if missing:
        raise ValueError(f"kmeans: no codebook items for {what} "
                         f"{missing}")
    win = np.empty(n, dtype=np.int64)
    best = np.empty(n, dtype=np.float64)
    cv = np.empty((n, width), dtype=np.float64) if with_cvec else None
    for g in groups:
        sel = slice(None) if gv is None else np.flatnonzero(gv == g)
        ids, cb = books[g]
        d = _seq_subdist(mat[sel][:, None, :], cb[None, :, :])
        if not np.isfinite(d).all():
            raise ValueError(f"kmeans: non-finite {what} distance")
        a = d.argmin(axis=1)  # first minimum: ties → lowest id
        win[sel] = ids[a]
        best[sel] = d[np.arange(len(a)), a]
        if with_cvec:
            cv[sel] = cb[a]
    return win, best, cv


def _batch_rows(batch, vec: str, group: str | None, width: int):
    """``(mat, gv)`` of one Arrow batch: the ``vec`` list column as an ``(n,
    width)`` double matrix and the group values (``None`` when ungrouped).
    A NULL vector or a width other than the codebook's raises."""
    import numpy as np
    import pyarrow.compute as pc

    n = batch.num_rows
    col = batch.column(vec)
    if col.null_count:
        raise ValueError(f"kmeans: NULL {vec} vector")
    gv = (batch.column(group).to_numpy(zero_copy_only=False)
          if group else None)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if (lens != width).any():
        raise ValueError(f"kmeans: {vec} width "
                         f"{sorted(set(lens.tolist()) - {width})} is "
                         f"not the codebook's {width}")
    return col.flatten().to_numpy(zero_copy_only=False).reshape(n, width), gv


def argmin_arrow(df: DataFrame, vec: str, items: list, key: str, dist: str,
                 with_cvec: bool = False) -> DataFrame:
    """``df`` plus, per row, the item nearest its ``vec`` column: the winning
    id ``key`` (a ``long``), its squared L2 distance ``dist`` and, with
    ``with_cvec``, the winner's vector ``cvec`` — one numpy kernel over Arrow
    batches (``mapInArrow``) against the driver-held ``(key, cvec)`` rows.
    The one assign kernel of the k-means consumers (``_assign``:
    ``kmeans_assign``, the trained IVF assignment, the IVFADC residual
    training slices); the Lloyd update (:func:`lloyd_means`, grouped by PQ
    subspace or not), the PQ encoder and the ADC scan (``pq._encoded``,
    ``pq._adc_topk``) run the same argmin loop (:func:`_nearest`).

    Exactness audit (why the result is cell-equal to the DuckDB oracle's
    ``ROW_NUMBER() OVER (ORDER BY d, id)``):

    * fold order — ``d`` is :func:`_seq_subdist`, Σ(x−c)² left to right, one
      IEEE multiply and one add per dimension, no pairwise or FMA regrouping;
    * tie-break — the items are sorted by ascending id and numpy's
      ``argmin`` returns the FIRST minimum, so equal distances go to the
      lowest id (``-0.0`` and ``0.0`` compare equal, as in both engines);
    * input precision — vectors arrive as doubles: callers cast the float32
      embeddings to ``array<double>`` upstream (the oracle's ``::DOUBLE[]``),
      so numpy folds the same binary64 values the engines fold;
    * non-finite — a NaN or ±Inf distance raises instead of being ranked
      (numpy's argmin stops at the first NaN; Spark orders NaN above every
      double); the embedding gate upstream makes it unreachable on valid
      input.

    Guards (``ValueError``): a NULL vector, a vector whose width is not the
    codebook's, a non-finite distance.  The id and distance are declared
    NON-nullable in the output schema, so joins on them infer no
    ``isnotnull`` filter, and the Python node is a barrier Catalyst pushes no
    filter through: the argmin runs once per row."""
    import numpy as np

    books, width = _codebooks(items, key, None)
    out = [StructField(key, LongType(), False), StructField(dist, DoubleType(), False)]
    if with_cvec:
        out.append(StructField("cvec", ArrayType(DoubleType(), False), False))
    schema = StructType(df.schema.fields + out)
    names = schema.names

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            mat, _ = _batch_rows(batch, vec, None, width)
            win, best, cv = _nearest(mat, None, books, vec, with_cvec)
            cols = batch.columns + [pa.array(win, type=pa.int64()),
                                    pa.array(best, type=pa.float64())]
            if with_cvec:
                cols.append(pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * width),
                    pa.array(cv.ravel())))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, schema)


#: the exact-mean contract (functions/numeric.py): every Lloyd mean sums the
#: members' components cast to this decimal, whose unscaled values are below
#: 10²⁹ < 2⁹⁷ — two's-complement high words within ±2³³
_DEC = DecimalType(29, 6)
#: Spark's sum of ``_DEC`` is ``decimal(38,6)``: an unscaled total at or past
#: 10³⁸ overflows it, so the fused update raises there instead
_SUM_BOUND = 10 ** 38


def _unscaled_limbs(col, n: int, width: int):
    """``(n, width, 3)`` int64 limbs ``(lo32, mid32, hi)`` of the unscaled
    decimal128 values of the list column ``col`` — the value is ``hi·2⁶⁴ +
    mid·2³² + lo``, read straight from Arrow's little-endian two's-complement
    buffer (no Python-side rounding).  A NULL component — Spark's non-ANSI
    cast of a value past ``_DEC``'s range — raises."""
    import numpy as np

    flat = col.flatten()
    if flat.null_count or len(flat) != n * width:
        raise ValueError("lloyd_means: NULL or missing decimal(29,6) "
                         "component (a value past the decimal range)")
    words = np.frombuffer(flat.buffers()[1], dtype="<u8")[
        2 * flat.offset:2 * (flat.offset + len(flat))].reshape(n, width, 2)
    lo = words[..., 0]
    return np.stack([(lo & np.uint64(0xFFFFFFFF)).astype(np.int64),
                     (lo >> np.uint64(32)).astype(np.int64),
                     words[..., 1].view(np.int64)], axis=-1)


def _check_sum(total: int) -> int:
    if abs(total) >= _SUM_BOUND:
        raise ValueError("lloyd_means: decimal sum overflows decimal(38,6)")
    return total


def _merge_means(partials, width: int) -> dict:
    """``{(group, id): mean}`` from the kernel's per-partition ``(g, id, n,
    s)`` rows: the counts and the unscaled sums add as Python ints (exact in
    any order), and each component finishes as ``cast(sum AS double) /
    count`` — ``t / 10**6`` is a correctly rounded int division, as Spark's
    ``Decimal.toDouble`` is, and the divide by the count is one IEEE
    division.  A total past ``decimal(38,6)`` raises ``ValueError``."""
    tot: dict = {}
    for g, i, n, s in partials:
        m, acc = tot.get((g, i), (0, [0] * width))
        tot[(g, i)] = (m + n, [a + int(b) for a, b in zip(acc, s)])
    return {cell: [_check_sum(t) / 10 ** 6 / n for t in acc]
            for cell, (n, acc) in tot.items()}


def lloyd_means(df: DataFrame, vec: str, items: list, key: str,
                group: str | None = None) -> dict:
    """One Lloyd update in ONE Spark job: ``{(group, id): mean vector}`` of
    the non-empty cells of ``items`` ``(key[, group], cvec)`` after every row
    of ``df`` joins its nearest item (``group`` ``None`` when ungrouped).

    The kernel runs :func:`argmin_arrow`'s codebook build and argmin loop
    over the scan's Arrow batches, then sums each cell's members: the count
    and, per component, the unscaled ``_DEC`` value.  The double→decimal cast
    is a JVM projection in front of the kernel (Spark's own rounding, the
    same cast the oracle's ``CAST(x AS DECIMAL(29,6))`` mirrors), so the
    kernel only adds integers — exact in any order and under any
    partitioning.  Per batch it sums 32-bit limbs in int64: a batch of fewer
    than 2³⁰ rows cannot wrap (checked before summing), and the per-partition
    totals are Python ints, emitted as ``decimal(38,0)``.

    A partition yields at most one row per item, so the pull is bounded by
    partitions × items by construction: it is ONE plain ``collect`` — a
    ``bounded_rows`` ``limit`` pull is an incremental take that re-runs the
    kernel as several jobs."""
    import numpy as np

    books, width = _codebooks(items, key, group)
    schema = StructType([
        StructField("g", LongType()), StructField("id", LongType(), False),
        StructField("n", LongType(), False),
        StructField("s", ArrayType(DecimalType(38, 0), False), False)])

    def kernel(batches):
        from decimal import Decimal

        import pyarrow as pa

        acc: dict = {}
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            if n >= 1 << 30:  # |limb| < 2³³: the int64 sums stay exact
                raise ValueError(f"lloyd_means: batch of {n} rows")
            mat, gv = _batch_rows(batch, vec, group, width)
            win, _, _ = _nearest(mat, gv, books, group or vec)
            limbs = _unscaled_limbs(batch.column("_dec"), n, width)
            cells, inv = np.unique(
                np.column_stack([gv if group else np.zeros(n, np.int64),
                                 win]).astype(np.int64),
                axis=0, return_inverse=True)
            inv = inv.reshape(-1)
            for j, cell in enumerate(map(tuple, cells.tolist())):
                part = limbs[inv == j]
                lo, mid, hi = part.sum(axis=0).T.tolist()
                m, tot = acc.get(cell, (0, [0] * width))
                acc[cell] = (m + len(part),
                             [t + (h << 64) + (b << 32) + a
                              for t, a, b, h in zip(tot, lo, mid, hi)])
        if acc:
            keys = list(acc)
            yield pa.RecordBatch.from_arrays([
                pa.array([g if group else None for g, _ in keys], pa.int64()),
                pa.array([i for _, i in keys], pa.int64()),
                pa.array([acc[k][0] for k in keys], pa.int64()),
                pa.array([[Decimal(_check_sum(t))
                           for t in acc[k][1]] for k in keys],
                         pa.list_(pa.decimal128(38, 0)))],
                names=schema.names)

    cols = [group] if group else []
    rows = (df.select(*cols, vec, F.col(vec).cast(ArrayType(_DEC)).alias("_dec"))
            .mapInArrow(kernel, schema).collect())
    return _merge_means(rows, width)


def _assign(emb: DataFrame, centroids: list,
            with_cvec: bool = False) -> DataFrame:
    # ZERO-exchange assignment: the driver-held centroid rows ride into the
    # numpy argmin kernel (``argmin_arrow``) over the scan's Arrow batches:
    # no pack aggregation, no BroadcastExchange job, no join (the trainer
    # chains are job-count-bound).  A crossJoin + vec_id-window shape would
    # shuffle and sort one full copy of every embedding per Lloyd round
    # (measured at sf0.1: 2,000 records / 820 KB per round).
    return argmin_arrow(emb.select("vec_id", "emb"), "emb", centroids, "cid",
                        "dist", with_cvec=with_cvec)


def seed_rows(v: DataFrame, k: int) -> list:
    """The k-means seed: the first ``k`` vectors of ``v`` ``(vec_id, emb)``
    by ``vec_id`` as ``(cid, cvec)`` rows — one bounded pull (≤k rows)."""
    return bounded_rows(v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")),
        k, "kmeans_c0")


def lloyd_centroids(v: DataFrame, c0: list) -> list:
    """The one Lloyd update every k-means consumer trains over ``v``
    ``(vec_id, emb)`` from the seed rows ``c0`` ``(cid, cvec)``: the
    decimal-exact means of the seed's clusters as driver-held ``(cid,
    cvec)`` rows in ``cid`` order — empty clusters drop.  One Spark job
    (:func:`lloyd_means`)."""
    means = lloyd_means(v, "emb", c0, "cid")
    return [Row(cid=i, cvec=means[(g, i)]) for g, i in sorted(means)]


def _lloyd_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, emb, cid, dist)``: the valid embeddings assigned to their
    trained centroid — seed → assign → update → re-assign, the oracle's
    c0→a1→c1→a2 chain.  The K trained centroids are driver rows (bounded by
    model geometry), which also truncates the lineage for the final
    assign."""
    v = valid_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return _assign(v, lloyd_centroids(v, seed_rows(v, K)))


@declare("kmeans_assign", oracle=_DUCK_ORACLE)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an IVF coarse quantizer with two deterministic Lloyd iterations
    and return the final cluster assignment (+ L2² distance) per vector."""
    return _lloyd_assignment(spark, sf_dir).select(
        "vec_id", F.col("cid").cast("bigint").alias("cluster"),
        F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# Trained-IVF search: top-k pruned by the kmeans clusters
# ---------------------------------------------------------------------------

_DUCK_TOPK_TRAINED = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE {EMB_VALID_SQL}),
    c0 AS (SELECT vec_id AS cid, emb AS cvec FROM v WHERE vec_id < {K}),
    {_duck_assign('c0', 'a1')},
    {_duck_update('a1', 'c1')},
    {_duck_assign('c1', 'a2')},
    n AS (
        SELECT vec_id, emb, cid,
               sqrt(list_reduce(list_transform(emb, x -> x * x), (x, y) -> x + y))
                   AS nrm
        FROM a2
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               list_reduce(list_transform(range(1, {DIM} + 1),
                                          i -> q.emb[i] * c.emb[i]),
                           (x, y) -> x + y) / (q.nrm * c.nrm) AS cos
        FROM n q JOIN n c ON q.vec_id <> c.vec_id AND q.cid = c.cid
        WHERE q.vec_id < 10
    ), ranked AS (
        SELECT query_id, cand_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
        FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INTEGER) AS rnk, ROUND(cos, 6) AS score
    FROM ranked WHERE rnk <= 5
"""


def trained_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse-quantizer assignment ``(vec_id, emb, cid, nrm)``
    through the persistent artifact store — this engine's IVF index.  Within
    a session the Lloyd loop runs once per dataset (operators/memo.py); when
    an artifact store is configured (spark.alertas.artifacts.dir /
    ALERTAS_ARTIFACTS_DIR) the assignment persists as versioned parquet and
    every LATER session loads it instead of re-scanning the corpus
    (operators/artifacts.py; two-session proof in test_artifacts.py).
    Consumers: the trained-IVF search below and the SemDeDup tier
    (operators/semantic.py)."""
    def train() -> DataFrame:
        # lazy: persistent_artifact owns materialization (the collected
        # centroid rows already truncate the deep lineage)
        return _lloyd_assignment(spark, sf_dir).select(
            "vec_id", "emb", "cid", F.sqrt(norm2(F.col("emb"))).alias("nrm"))

    return persistent_artifact(spark, sf_dir, "kmeans_trained_assignment",
                               code_version="1", table="embeddings",
                               build=train)


@declare("simsearch_topk_ivf_trained", oracle=_DUCK_TOPK_TRAINED)
def simsearch_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full trained-ANN loop in one plan: k-means coarse quantizer (above) →
    cluster-pruned cosine top-k through the shared two-phase score-and-rank
    step (``simsearch.cosine_topk``).  Probe-1 over TRAINED cells — what a
    user gets from `kmeans_assign` + `simsearch_topk_ivf` composed,
    oracle-checked end to end."""
    from alertas_spark.operators.simsearch import _topk_shape

    return _topk_shape(trained_assignment(spark, sf_dir),
                       F.col("cid").alias("qcid"),
                       prune=F.col("qcid") == F.col("cid"))
