"""Product-quantization properties the DuckDB oracle can't see.

The oracle pins exact cross-engine equality of codes/distances; these tests pin
the *semantics*: seeds must be fixed points of the encoder, ADC ranking must be
internally consistent, and the compressed ranking must genuinely approximate the
exact (brute-force cosine) ranking.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_seed_vectors_are_encoder_fixed_points(spark):
    # a seed vector's nearest codeword in every subspace is itself → codes are
    # its own vec_id and the quantization error is exactly zero
    from alertas_spark.operators.pq import KSUB, pq_encode

    rows = pq_encode(spark, SF).filter(f"vec_id < {KSUB}").collect()
    assert len(rows) == KSUB
    for r in rows:
        assert (r.code_1, r.code_2, r.code_3, r.code_4) == (r.vec_id,) * 4
        assert r.qerr == 0.0


def test_codes_in_range_and_qerr_nonnegative(spark):
    from alertas_spark.operators.pq import KSUB, pq_encode

    for r in pq_encode(spark, SF).collect():
        assert all(0 <= c < KSUB for c in (r.code_1, r.code_2, r.code_3, r.code_4))
        assert r.qerr >= 0.0


def test_adc_scores_sorted_within_query(spark):
    from alertas_spark.operators.pq import TOP_K, simsearch_topk_pq

    by_query = {}
    for r in simsearch_topk_pq(spark, SF).collect():
        by_query.setdefault(r.query_id, []).append((r.rnk, r.score, r.cand_id))
    for ranked in by_query.values():
        ranked.sort()
        assert [r for r, _, _ in ranked] == list(range(1, TOP_K + 1))
        scores = [s for _, s, _ in ranked]
        assert scores == sorted(scores)  # ascending L2² distance


def test_pq_recall_floor_vs_bruteforce(spark):
    # compressed-domain ranking must approximate the exact cosine ranking;
    # measured 0.20 at sf0.001 with the train-free codebook — pin a floor so a
    # codebook/normalization regression can't silently zero the recall
    from alertas_spark.operators.pq import simsearch_topk_pq
    from alertas_spark.operators.simsearch import simsearch_topk_bruteforce

    pq = {(r.query_id, r.cand_id) for r in simsearch_topk_pq(spark, SF).collect()}
    bf = {(r.query_id, r.cand_id)
          for r in simsearch_topk_bruteforce(spark, SF).collect()}
    assert len(pq & bf) / len(bf) >= 0.15


def test_rerank_improves_recall_and_scores_exactly(spark):
    # the exact re-rank must (a) beat raw ADC recall, (b) agree with the
    # brute-force cosine wherever the same (query, cand) pair appears
    from alertas_spark.operators.pq import (simsearch_topk_pq,
                                            simsearch_topk_pq_reranked)
    from alertas_spark.operators.simsearch import simsearch_topk_bruteforce

    bf = {(r.query_id, r.cand_id): r.score
          for r in simsearch_topk_bruteforce(spark, SF).collect()}
    adc = {(r.query_id, r.cand_id) for r in simsearch_topk_pq(spark, SF).collect()}
    rr = {(r.query_id, r.cand_id): r.score
          for r in simsearch_topk_pq_reranked(spark, SF).collect()}
    assert len(rr.keys() & bf.keys()) > len(adc & bf.keys())
    for pair, score in rr.items():
        if pair in bf:
            assert score == bf[pair]  # identical exact cosine, identical rounding


def test_trained_codebook_reduces_quantization_error(spark):
    # one Lloyd update (assign -> mean -> re-assign) cannot increase the total
    # quantization error vs the seed codebook (means minimize within-cell error,
    # re-assignment minimizes per-vector error); allow 1e-4 slack for the
    # DECIMAL(29,6) mean rounding and the 1e-9 qerr quantization
    from alertas_spark.operators.pq import KSUB, pq_encode, pq_encode_trained

    untrained = sum(r.qerr for r in pq_encode(spark, SF).collect())
    rows = pq_encode_trained(spark, SF).collect()
    trained = sum(r.qerr for r in rows)
    assert trained <= untrained + 1e-4
    for r in rows:
        assert all(0 <= c < KSUB for c in (r.code_1, r.code_2, r.code_3, r.code_4))
        assert r.qerr >= 0.0


def test_int8_quantization_error_is_bounded_by_half_a_step(spark):
    """Affine round-to-nearest guarantees |x - recon| <= scale_i/2 per dim, so
    every vector's max_abs_err is bounded by half the WIDEST dimension step."""
    from pyspark.sql import functions as F

    from alertas_spark.registry import load_all
    from alertas_spark.sources.catalog import load_table

    SF = "/root/testdata/sf0.001"
    out = load_all()["embedding_quantize_int8"].builder(spark, SF)
    v = load_table(spark, SF, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("x"))
    from alertas_spark.operators.pq import DIM
    widest = v.agg(F.max(F.expr(
        "array_max(x)")) - F.min(F.expr("array_min(x)"))).collect()[0][0]
    half_step = widest / 255.0 / 2.0
    assert out.filter(F.col("max_abs_err") > half_step + 1e-9).count() == 0
    assert out.count() > 0


def _adversarial(spark, build):
    """Run ``build()`` twice: default layout, then adversarial scan splits +
    prime shuffle width + tiny Arrow batches (forces the numpy mapInPandas
    shortlist through many small batches).  Results must be cell-identical."""
    from alertas_spark.operators import memo

    memo.clear()
    base = sorted(map(tuple, build().collect()))
    confs = {"spark.sql.files.maxPartitionBytes": str(64 * 1024),
             "spark.sql.shuffle.partitions": "13",
             "spark.sql.execution.arrow.maxRecordsPerBatch": "64"}
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        memo.clear()
        alt = sorted(map(tuple, build().collect()))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return base, alt


def test_pq_topk_invariant_under_adversarial_partitioning(spark):
    """The PQ tier's inline per-partition ADC shortlist (pq.py _adc_topk) must
    contain the global top-k for ANY input layout — pinned by re-running the
    whole declared query under adversarial partitioning."""
    from alertas_spark.operators.pq import simsearch_topk_pq

    base, alt = _adversarial(spark, lambda: simsearch_topk_pq(spark, SF))
    assert base == alt and len(base) > 0


def test_bruteforce_topk_invariant_under_adversarial_partitioning(spark):
    """Same pin for the brute-force tier's ranked_topk (operators/topk.py)."""
    from alertas_spark.operators.simsearch import simsearch_topk_bruteforce

    base, alt = _adversarial(spark, lambda: simsearch_topk_bruteforce(spark, SF))
    assert base == alt and len(base) > 0


# ---------------------------------------------------------------------------
# IVFADC residual tier (lives in operators/pq.py — see the import-order note)
# ---------------------------------------------------------------------------


def test_ivfpq_standalone_pq_import_registers_the_residual_tier():
    """A standalone `import pq` in a fresh interpreter must register the
    residual tier (it lives in pq.py above the dashboard, so the dashboard
    oracle can reference it without any import-order hazard)."""
    import subprocess
    import sys

    code = ("import alertas_spark.operators.pq; "
            "from alertas_spark.registry import REGISTRY; "
            "assert 'simsearch_topk_ivfpq_residual' in REGISTRY")
    subprocess.run([sys.executable, "-c", code], check=True,
                   cwd="/root/repo", timeout=120)


def test_ivfpq_recall_floor_and_probe_containment(spark):
    """The residual tier must (a) hold a recall floor vs brute force (0.30
    measured at sf0.001/sf0.01 fixtures; 0.22 vs flat-PQ's 0.14 at sf0.1),
    and (b) only surface candidates from the query's NPROBE probed cells —
    the IVF prune contract."""
    from alertas_spark.operators.pq import (NPROBE,
                                            simsearch_topk_ivfpq_residual)
    from alertas_spark.operators.kmeans import _assign
    from alertas_spark.operators.pq import _normalized
    from alertas_spark.operators.pq import _coarse_centroids
    from alertas_spark.operators.simsearch import simsearch_topk_bruteforce
    from pyspark.sql import functions as F

    out = simsearch_topk_ivfpq_residual(spark, SF).collect()
    bf = {(r.query_id, r.cand_id)
          for r in simsearch_topk_bruteforce(spark, SF).collect()}
    got = {(r.query_id, r.cand_id) for r in out}
    assert len(got & bf) / len(bf) >= 0.15
    # probe containment: every candidate's cell is among its query's probes
    # (_coarse_centroids returns the driver-held ROWS; rebuild a relation
    # for this test's independent crossJoin re-derivation)
    c1_rows = _coarse_centroids(spark, SF)
    c1 = spark.createDataFrame(c1_rows)
    cells = {r.vec_id: r.cid
             for r in _assign(_normalized(spark, SF), c1_rows).collect()}
    qdist = ("aggregate(zip_with(qemb, cvec, (x, y) -> (x - y) * (x - y)), "
             "cast(0.0 as double), (acc, v) -> acc + v)")
    probes: dict[int, list] = {}
    for r in (_normalized(spark, SF)
              .filter(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("emb").alias("qemb"))
              .crossJoin(F.broadcast(c1))
              .withColumn("qd", F.expr(qdist)).collect()):
        probes.setdefault(r.query_id, []).append((r.qd, r.cid))
    for q, cand in got:
        top = {cid for _, cid in sorted(probes[q])[:NPROBE]}
        assert cells[cand] in top


def test_ivfpq_rerank_beats_adc_and_scores_exactly(spark):
    """IVFADC+R must (a) beat the raw residual-ADC recall, (b) agree with
    the brute-force cosine wherever the same (query, cand) pair appears —
    the simsearch_topk_pq_reranked contract over the IVF-pruned shortlist."""
    from alertas_spark.operators.pq import (simsearch_topk_ivfpq_rerank,
                                            simsearch_topk_ivfpq_residual)
    from alertas_spark.operators.simsearch import simsearch_topk_bruteforce

    bf = {(r.query_id, r.cand_id): r.score
          for r in simsearch_topk_bruteforce(spark, SF).collect()}
    adc = {(r.query_id, r.cand_id)
           for r in simsearch_topk_ivfpq_residual(spark, SF).collect()}
    rr = {(r.query_id, r.cand_id): r.score
          for r in simsearch_topk_ivfpq_rerank(spark, SF).collect()}
    assert len(rr.keys() & bf.keys()) > len(adc & bf.keys())
    for pair, score in rr.items():
        if pair in bf:
            assert score == bf[pair]


def _decimal_reference_means(assigned, vec, keys):
    """The decimal-aggregate form the fused Lloyd kernel replaced, kept as
    the test reference: posexplode, per-(cell, dim) ``sum(cast(x AS
    decimal(29,6)))`` cast to double over ``count(*)``."""
    from pyspark.sql import functions as F

    rows = (assigned.select(*keys, F.posexplode(vec).alias("pos", "x"))
            .groupBy(*keys, "pos")
            .agg((F.sum(F.col("x").cast("decimal(29,6)")).cast("double")
                  / F.count("*")).alias("mu"))
            .collect())
    ref: dict = {}
    for r in rows:
        ref.setdefault(tuple(r[k] for k in keys), {})[r.pos] = r.mu
    return {k: [d[p] for p in range(len(d))] for k, d in ref.items()}


def _grouped_argmin(df, vec, items, key, dist, **kw):
    """The grouped assign reference: each subspace ``m``'s rows against that
    subspace's items alone, through the ungrouped ``kmeans.argmin_arrow``
    kernel, unioned — a row competes only within its own group."""
    from functools import reduce

    from pyspark.sql import functions as F

    from alertas_spark.operators.kmeans import argmin_arrow

    return reduce(lambda a, b: a.unionByName(b), [
        argmin_arrow(df.filter(F.col("m") == m), vec,
                     [r for r in items if r["m"] == m], key, dist, **kw)
        for m in sorted({r["m"] for r in items})])


#: seed centroids (width 4) whose cells collect the adversarial components
_LLOYD_SEEDS = [[0.0, 0.0, 0.0, 0.0], [9.9e22, 0.0, 0.0, 0.0],
                [1e15, 1e15, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]
#: per-member offsets: half-ulp ties at the 6th decimal, -0.0, 1e-30, and
#: 0.1 + 0.2 - 0.3 and ±3.25e-3, which sum to exactly zero in decimal
_LLOYD_OFFSETS = [0.0000005, 1.0000005, -0.0, 1e-30, 0.1, 0.2, -0.3,
                  3.25e-3, -3.25e-3, 2.5000005, 0.0000015, -0.0000005]


def _lloyd_rows():
    """``(vec_id, emb)`` rows: every seed plus, per seed, one member per
    offset rotation, so each cell holds every offset in every dimension."""
    rows = [(i, list(s)) for i, s in enumerate(_LLOYD_SEEDS)]
    n = len(_LLOYD_OFFSETS)
    for i, s in enumerate(_LLOYD_SEEDS):
        for j in range(n):
            off = [_LLOYD_OFFSETS[(j + d) % n] for d in range(len(s))]
            rows.append((len(rows), [x + o for x, o in zip(s, off)]))
    return rows


def _bits(vec):
    import struct

    return [struct.pack("<d", x) for x in vec]


def test_fused_lloyd_means_equal_the_decimal_aggregate_bit_for_bit(spark):
    """kmeans.lloyd_means (one Arrow kernel: per-partition counts and
    unscaled decimal(29,6) sums, merged on the driver) against the decimal
    aggregate it replaced, bit for bit, ungrouped (k-means) and grouped by
    subspace (PQ), over ``repartition(7)`` so partials from several
    partitions merge.  Components cover half-ulp ties at the 6th decimal,
    ``-0.0``, ``1e-30``, ``1e15``, ``9.9e22`` and mixed signs that sum to
    exactly zero."""
    from pyspark.sql import functions as F

    from alertas_spark.operators.kmeans import argmin_arrow, lloyd_means

    df = spark.createDataFrame(_lloyd_rows(), "vec_id bigint, emb array<double>")
    seeds = [{"cid": i, "cvec": s} for i, s in enumerate(_LLOYD_SEEDS)]
    ref = _decimal_reference_means(
        argmin_arrow(df, "emb", seeds, "cid", "d"), "emb", ["cid"])
    got = lloyd_means(df.repartition(7), "emb", seeds, "cid")
    assert df.repartition(7).rdd.glom().filter(bool).count() > 1
    assert set(got) == {(None, c) for (c,) in ref}
    for (c,), mu in ref.items():
        assert _bits(got[(None, c)]) == _bits(mu), c
    # the sign-cancelling members leave an exact zero; huge cells stay huge
    assert 0.0 in got[(None, 0)] and got[(None, 1)][0] > 9e22

    subs = df.select("vec_id", F.posexplode(F.expr(
        "array(slice(emb, 1, 2), slice(emb, 3, 2))")).alias("m0", "sub")
    ).select("vec_id", (F.col("m0") + 1).cast("int").alias("m"), "sub")
    cw = [{"m": m + 1, "c": i, "cvec": s[2 * m:2 * m + 2]}
          for i, s in enumerate(_LLOYD_SEEDS) for m in range(2)]
    ref = _decimal_reference_means(
        _grouped_argmin(subs, "sub", cw, "c", "d"), "sub", ["m", "c"])
    got = lloyd_means(subs.repartition(7), "sub", cw, "c", group="m")
    assert set(got) == set(ref)
    for cell, mu in ref.items():
        assert _bits(got[cell]) == _bits(mu), cell


def test_fused_lloyd_means_raise_instead_of_overflowing(spark):
    """The fused update refuses what it cannot sum exactly: a merged total
    past Spark's ``decimal(38,6)`` sum raises ``ValueError`` instead of
    wrapping, and a component past ``decimal(29,6)`` — NULL under a non-ANSI
    cast, which the decimal aggregate silently skipped — raises in the
    kernel."""
    import pytest

    from alertas_spark.operators.kmeans import _merge_means, lloyd_means

    half = 6 * 10 ** 37  # each partial fits decimal(38,0), their sum does not
    assert _merge_means([(None, 0, 1, [half]), (None, 0, 1, [-half])], 1) \
        == {(None, 0): [0.0]}
    with pytest.raises(ValueError, match="overflows decimal"):
        _merge_means([(None, 0, 1, [half]), (None, 0, 1, [half])], 1)

    df = spark.createDataFrame([(0, [1.0, 2.0]), (1, [1e24, 2.0])],
                               "vec_id bigint, emb array<double>")
    seeds = [{"cid": 0, "cvec": [1.0, 2.0]}]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="NULL or missing decimal"):
            lloyd_means(df, "emb", seeds, "cid")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_probe_lut_refuses_a_missing_subspace():
    """The query LUT slices the residual by subspace ``m``: a codebook
    without rows for some subspace must raise, not silently drop that
    subspace's lookups from every candidate's distance."""
    import numpy as np
    import pytest

    from alertas_spark.operators.pq import DIM, KSUB, M, _probe_lut

    queries = {0: np.full(DIM, 0.125)}
    c1 = [{"cid": 0, "cvec": [0.0] * DIM}]
    cw1 = [{"m": m, "c": c, "cvec": [0.5] * (DIM // M)}
           for m in range(1, M + 1) for c in range(KSUB)]
    qids, probe, lut = _probe_lut(queries, c1, cw1)
    assert qids.tolist() == [0] and probe.tolist() == [[True]]
    assert lut.shape == (1, 1, M, KSUB)
    with pytest.raises(ValueError, match="subspaces"):
        _probe_lut(queries, c1, [r for r in cw1 if r["m"] != 2])


def test_probe_lut_matches_the_spark_fold_bit_for_bit(spark):
    """pq._probe_lut (driver numpy) against Spark's ``aggregate(zip_with(..))``
    fold and ``ROW_NUMBER() OVER (ORDER BY d, cid)`` probe rank — the shape
    the IVFADC query side had in SQL: equal probe sets and bit-equal
    sub-distances on ``-0.0`` and ``1e-30`` components, half-ulp squares
    (2 + 2⁻⁵² rounds back to 2 at every step of a left fold; a regrouped sum
    keeps them), and two centroids equidistant from the query across the
    NPROBE cut, where the lower cid must win."""
    import struct

    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from alertas_spark.operators.pq import (DIM, KSUB, M, NPROBE, SUBDIM,
                                            _probe_lut)

    trap = [1.0, 1.0] + [2.0 ** -26] * (SUBDIM - 4) + [-0.0, 1e-30]
    q0 = np.array(trap * M)
    q1 = np.array([0.25, -0.0, 1e-30, -0.5] * (DIM // 4))
    e = np.array([0.5, -0.25] * (DIM // 2))
    # q0's distances: cid 4 (0.625) < 7 (2.5) < 9 (8.0) < 3 == 5 (both
    # ‖e‖² = 10) < 2 — the NPROBE-th slot is a tie, so cid 3 is probed and
    # cid 5 is not; q0's residual against cid 9 is the trap itself
    cents = {9: np.zeros(DIM), 4: q0 + e / 4, 7: q0 - e / 2, 5: q0 + e,
             3: q0 - e, 2: q0 + 2 * e}
    c1 = [{"cid": c, "cvec": v.tolist()} for c, v in cents.items()]
    cw1 = [{"m": m, "c": c,
            "cvec": (np.zeros(SUBDIM) if c == 0 else
                     np.array(trap) * (c % 3) - 0.0625 * c * (m % 2)).tolist()}
           for m in range(1, M + 1) for c in range(KSUB)]
    queries = {0: q0, 1: q1}
    qids, probe, lut = _probe_lut(queries, c1, cw1)
    cids = sorted(cents)
    sd = {(int(q), cids[ci], m + 1, lc): lut[qi, ci, m, lc]
          for qi, q in enumerate(qids) for ci in np.flatnonzero(probe[qi])
          for m in range(M) for lc in range(KSUB)}
    probes = sorted({(q, c) for q, c, _, _ in sd})

    assert [c for q, c in probes if q == 0] == [3, 4, 7, 9]
    assert not lut[~probe].any()  # cells not probed hold no sub-distance
    assert sd[(0, 9, 1, 0)] == 2.0  # the left fold, not 2 + 12·2⁻⁵²

    fold = ("aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 as double), (acc, v) -> acc + v)")
    qdf = spark.createDataFrame([(q, v.tolist()) for q, v in queries.items()],
                                "query_id long, qemb array<double>")
    cdf = spark.createDataFrame([(r["cid"], r["cvec"]) for r in c1],
                                "cid long, cvec array<double>")
    wdf = spark.createDataFrame([(r["m"], r["c"], r["cvec"]) for r in cw1],
                                "m int, lc int, wvec array<double>")
    w = Window.partitionBy("query_id").orderBy("qd", "cid")
    ref_probes = (qdf.crossJoin(cdf)
                  .withColumn("qd", F.expr(fold.format(a="qemb", b="cvec")))
                  .withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= NPROBE)
                  .select("query_id", "cid",
                          F.zip_with("qemb", "cvec", lambda x, c: x - c)
                          .alias("qr")))
    ref = (ref_probes.crossJoin(wdf)
           .withColumn("sd", F.expr(fold.format(
               a=f"slice(qr, (m - 1) * {SUBDIM} + 1, {SUBDIM})", b="wvec")))
           .select("query_id", "cid", "m", "lc", "sd").collect())

    def bits(x):
        return struct.pack("<d", x)

    assert sorted(probes) == sorted({(r.query_id, r.cid) for r in ref})
    assert sorted((k, bits(d)) for k, d in sd.items()) == sorted(
        ((r.query_id, r.cid, r.m, r.lc), bits(r.sd)) for r in ref)


def test_q9_rounds_half_up_like_spark(spark):
    """pq._q9 (numpy) against Spark's ``round(sd * 1e9)`` cast to bigint
    where the product is a tie k + 0.5 and at both float neighbours of each
    tie, for k from 0 to 4e9: a tie rounds up (``np.round`` rounds half to
    even), a neighbour rounds to its nearest integer."""
    import numpy as np
    from pyspark.sql import functions as F

    from alertas_spark.operators.pq import _q9

    sds = []
    for k in (0, 1, 2, 3, 4, 5, 100, 101, 12345, 10 ** 7, 10 ** 8, 2 ** 31,
              2 ** 32, 3_999_999_998):
        y = k + 0.5
        for t in (np.nextafter(y, -np.inf), y, np.nextafter(y, np.inf)):
            # the sd within 4 ulps of t / 1e9 whose product is exactly t
            lo = hi = t / 1e9
            near = [lo]
            for _ in range(4):
                lo, hi = np.nextafter(lo, -np.inf), np.nextafter(hi, np.inf)
                near += [lo, hi]
            hit = [x for x in near if x * 1e9 == t]
            assert hit, (k, t)
            sds.append(float(hit[0]))
    df = spark.createDataFrame([(i, x) for i, x in enumerate(sds)],
                               "i int, sd double")
    ref = [r.q for r in df.orderBy("i").select(
        F.round(F.col("sd") * 1e9).cast("bigint").alias("q")).collect()]
    assert _q9(np.array(sds)).tolist() == ref
    assert ref[:3] == [0, 1, 1] and ref[6:9] == [2, 3, 3]


def test_argmin_kernel_matches_a_sequential_fold_bit_for_bit(spark):
    """kmeans.argmin_arrow against a pure-Python left-to-right fold: equal
    ids and bit-equal distances on duplicate centroids (the tie goes to the
    lowest id), ``-0.0`` and ``1e-30`` components, and squares whose
    pairwise sum differs from the sequential one (1e16 + 1 + … + 1, which
    numpy's own ``sum`` regroups at this width); plus the
    four guards (NULL vector, wrong width, uncovered group, non-finite
    distance).  The grouped cases run each subspace through the kernel
    (``_grouped_argmin``); the uncovered-group guard is the grouped Lloyd
    update's, the kernel's only grouped caller."""
    import struct

    import pytest

    from alertas_spark.operators.kmeans import argmin_arrow, lloyd_means

    def fold(x, c):
        d = 0.0
        for a, b in zip(x, c):
            d += (a - b) * (a - b)
        return d

    def bits(x):
        return struct.pack("<d", x)

    dup = [1.0, -0.0, 1e-30, 0.0]
    items = [{"m": m, "cid": cid, "cvec": cvec}
             for m in (1, 2)
             for cid, cvec in ((5, dup), (2, dup), (9, [0.5] * 4),
                               (7, [0.0, 1e-30, -1e-30, -0.0]),
                               (3, [0.0, 0.0, 0.0, 1e-30 * m]))]
    vecs = [[1.0, 0.0, 1e-30, -0.0], [-0.0, 0.0, 0.0, 0.0],
            [1e-30, 1e-30, 1e-30, 1e-30], [0.1, 0.2, 0.3, 0.4],
            [1e8, 1.0, 1.0, 1.0], [0.5, 0.5, 0.5, 0.5],
            [0.75, 0.25, -0.0, 1e-30], [-1e-30, 0.0, 0.0, 2e-30]]
    rows = [(i, 1 + i % 2, v) for i, v in enumerate(vecs * 3)]
    df = spark.createDataFrame(rows, "vec_id bigint, m int, emb array<double>")

    for group in (None, "m"):
        book = items if group else [r for r in items if r["m"] == 1]
        assign = _grouped_argmin if group else argmin_arrow
        got = {r.vec_id: r for r in assign(
            df, "emb", book, "cid", "dist", with_cvec=True).collect()}
        assert len(got) == len(rows)
        for vid, m, v in rows:
            cands = sorted((fold(v, r["cvec"]), r["cid"], r["cvec"])
                           for r in book if not group or r["m"] == m)
            d, cid, cvec = cands[0]
            assert (got[vid].cid, bits(got[vid].dist)) == (cid, bits(d)), vid
            assert [bits(x) for x in got[vid].cvec] == [bits(x) for x in cvec]
    # the tie: rows equal to the duplicated centroid go to cid 2, not 5
    assert {r.cid for r in _grouped_argmin(
        df.filter("vec_id = 0"), "emb", items, "cid", "dist").collect()} == {2}
    # the fold order: 1e16 followed by fifteen 1s folds to 1e16 left to
    # right; a pairwise or blocked sum keeps some of the 1s
    wide = [1e8] + [1.0] * 15
    (r,) = argmin_arrow(
        spark.createDataFrame([(0, wide)], "vec_id bigint, emb array<double>"),
        "emb", [{"cid": 0, "cvec": [0.0] * 16}], "cid", "dist").collect()
    assert bits(r.dist) == bits(fold(wide, [0.0] * 16)) == bits(1e16)

    def frame(data):
        return spark.createDataFrame(data, "vec_id bigint, m int, "
                                           "emb array<double>")

    cb = [{"m": 1, "c": 0, "cvec": [0.0, 0.0]},
          {"m": 1, "c": 1, "cvec": [1.0, 1.0]}]
    assert [r.c for r in _grouped_argmin(
        frame([(0, 1, [0.9, 0.9])]), "emb", cb, "c", "d").collect()] == [1]
    for data, match in (([(0, 1, None)], "NULL emb"),
                        ([(0, 1, [0.5, 0.5, 0.5])], "width"),
                        ([(0, 1, [1e200, 0.0])], "non-finite")):
        with pytest.raises(Exception, match=match):
            argmin_arrow(frame(data), "emb", cb, "c", "d").collect()
    with pytest.raises(Exception, match="ValueError: kmeans: no codebook items for m"):
        lloyd_means(frame([(0, 2, [0.5, 0.5])]), "emb", cb, "c", group="m")
