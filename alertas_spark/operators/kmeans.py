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

Scale shape per iteration: one bounded driver collect of the ≤K centroid rows
(K×dim doubles are always tiny), handed to ONE numpy argmin kernel that runs
over the scan's Arrow batches (``argmin_arrow``, ``mapInArrow``; zero
exchange, no broadcast, no join, and no interpreted per-row higher-order
fold); and one (cluster, dim) aggregation with map-side combine.  The loop structure is exactly GraphX/Spark-ML's kmeans; the
decimal-sum means are the price of cross-engine bit-equality and cost one
extra cast.

The trained assignment feeds ``simsearch_topk_ivf`` / the blocked dedup as their
coarse partition — closing the loop from raw embeddings to a *trained* IVF index
(the hyperplane partitioner in simsearch.py is the train-free alternative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, DoubleType, LongType,
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
    (pq._pq_codes) and the IVFADC query tables (pq._probe_lut)."""
    diff = a - b
    sq = diff * diff
    d = sq[..., 0].copy()
    for i in range(1, sq.shape[-1]):
        d += sq[..., i]
    return d


def argmin_arrow(df: DataFrame, vec: str, items: list, key: str,
                 key_type: DataType, dist: str, group: str | None = None,
                 with_cvec: bool = False) -> DataFrame:
    """``df`` plus, per row, the item nearest its ``vec`` column: the winning
    id ``key`` (typed ``key_type``), its squared L2 distance ``dist`` and,
    with ``with_cvec``, the winner's vector ``cvec`` — one numpy kernel over
    Arrow batches (``mapInArrow``) against the driver-held ``(key[, group],
    cvec)`` rows.  With ``group`` set (PQ's subspace ``m``), a row competes
    only against the items of its own group.  The one argmin behind every
    k-means / PQ assign (``_assign``, ``pq._assign_sub``).

    Exactness audit (why the result is cell-equal to the DuckDB oracle's
    ``ROW_NUMBER() OVER (ORDER BY d, id)``):

    * fold order — ``d`` is :func:`_seq_subdist`, Σ(x−c)² left to right, one
      IEEE multiply and one add per dimension, no pairwise or FMA regrouping;
    * tie-break — each group's items are sorted by ascending id and numpy's
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
    codebook's, a group value missing from the codebook, a non-finite
    distance.  The id and distance are declared NON-nullable in the output
    schema, so joins on them infer no ``isnotnull`` filter, and the Python
    node is a barrier Catalyst pushes no filter through: the argmin runs
    once per row."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_type

    books: dict = {}
    for r in sorted(items, key=lambda r: r[key]):
        books.setdefault(r[group] if group else None, []).append(r)
    books = {g: (np.array([r[key] for r in rs], dtype=np.int64),
                 np.array([r["cvec"] for r in rs], dtype=np.float64))
             for g, rs in books.items()}
    widths = {cb.shape[1] for _, cb in books.values()}
    if len(widths) > 1:
        raise ValueError(f"argmin_arrow: codebook widths {sorted(widths)} "
                         "differ")
    width = widths.pop() if widths else 0
    out = [StructField(key, key_type, False), StructField(dist, DoubleType(), False)]
    if with_cvec:
        out.append(StructField("cvec", ArrayType(DoubleType(), False), False))
    schema = StructType(df.schema.fields + out)
    names, arrow_key = schema.names, to_arrow_type(key_type)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column(vec)
            if col.null_count:
                raise ValueError(f"argmin_arrow: NULL {vec} vector")
            gv = (batch.column(group).to_numpy(zero_copy_only=False)
                  if group else None)
            groups = np.unique(gv) if group else [None]
            missing = [g for g in groups if g not in books]
            if missing:
                raise ValueError(f"argmin_arrow: no codebook items for "
                                 f"{group or vec} {missing}")
            lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
            if (lens != width).any():
                raise ValueError(f"argmin_arrow: {vec} width "
                                 f"{sorted(set(lens.tolist()) - {width})} is "
                                 f"not the codebook's {width}")
            mat = col.flatten().to_numpy(zero_copy_only=False).reshape(n, width)
            win = np.empty(n, dtype=np.int64)
            best = np.empty(n, dtype=np.float64)
            cv = np.empty((n, width), dtype=np.float64) if with_cvec else None
            for g in groups:
                sel = slice(None) if group is None else np.flatnonzero(gv == g)
                ids, cb = books[g]
                d = _seq_subdist(mat[sel][:, None, :], cb[None, :, :])
                if not np.isfinite(d).all():
                    raise ValueError(f"argmin_arrow: non-finite {vec} "
                                     "distance")
                a = d.argmin(axis=1)  # first minimum: ties → lowest id
                win[sel] = ids[a]
                best[sel] = d[np.arange(len(a)), a]
                if with_cvec:
                    cv[sel] = cb[a]
            cols = batch.columns + [pa.array(win, type=arrow_key),
                                    pa.array(best, type=pa.float64())]
            if with_cvec:
                cols.append(pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * width),
                    pa.array(cv.ravel())))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(kernel, schema)


def _assign(emb: DataFrame, centroids: list,
            with_cvec: bool = False) -> DataFrame:
    # ZERO-exchange assignment: the driver-held centroid rows (every round,
    # the seed included — bounded_rows) ride into the numpy argmin kernel
    # (``argmin_arrow``) over the scan's Arrow batches: no pack aggregation,
    # no BroadcastExchange job, no join (the trainer chains are
    # job-count-bound).  A crossJoin + vec_id-window shape would shuffle and
    # sort one full copy of every embedding per Lloyd round (measured at
    # sf0.1: 2,000 records / 820 KB per round); here the only exchanges in a
    # round are the tiny (cid, dim) mean partials.
    return argmin_arrow(emb.select("vec_id", "emb"), "emb", centroids, "cid",
                        LongType(), "dist", with_cvec=with_cvec)


def _update(assigned: DataFrame) -> DataFrame:
    # Kept as posexplode + (cid, dim) + (cid) two-level aggregation: the r18
    # single-groupBy rewrite (DIM=64 per-dimension decimal sum columns in one
    # agg) was built and MEASURED WORSE — interleaved in-session A/B on
    # kmeans_assign: 2.42 s vs 1.29 s min-of-4, every pass slower; the 64-wide
    # decimal(29,6) buffer update per row costs more than the exploded narrow
    # agg saves, and spark.sql.codegen.maxFields=400 did not recover it.  The
    # 16-wide twin on SUBDIM sub-vectors (pq._sub_mean) measured a wash and
    # ships; at this width the explode is the better local plan and both
    # exchanges are model-geometry-sized.
    sums = (
        assigned.select("cid", F.posexplode("emb").alias("pos", "val"))
        .groupBy("cid", (F.col("pos") + 1).alias("dim"))
        .agg((F.sum(F.col("val").cast("decimal(29,6)")).cast("double")
              / F.count("*")).alias("m"))
    )
    return (
        sums.groupBy("cid")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("dim", "m"))),
                         lambda s: s["m"]).alias("cvec"))
    )


def lloyd_centroids(v: DataFrame, k: int) -> DataFrame:
    """The one Lloyd update every k-means consumer trains over ``v``
    ``(vec_id, emb)``: the seed — the first ``k`` vectors by ``vec_id`` — is
    collected (≤k rows, model geometry) and handed to the numpy argmin kernel
    like every later round, and the decimal-exact means of its clusters are
    returned LAZY as ``(cid, cvec)`` (empty clusters drop): the caller's
    bounded pull or artifact tier owns the materialization."""
    c0 = bounded_rows(v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cvec")),
        k, "kmeans_c0")
    return _update(_assign(v, c0))


def _lloyd_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, emb, cid, dist)``: the valid embeddings assigned to their
    trained centroid — seed → assign → update → re-assign, the oracle's
    c0→a1→c1→a2 chain.  The K trained centroids come to the driver (bounded
    by model geometry): the collect IS the round's one materializing action,
    and it also truncates the lineage for the final assign."""
    v = valid_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return _assign(v, bounded_rows(lloyd_centroids(v, K), K, "kmeans_c1"))


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
