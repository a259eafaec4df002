"""Persistent trained-artifact store (operators/artifacts.py): train once,
reuse across sessions, invalidate by version — pinned end-to-end with the real
k-means trainer."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _train_centroids(spark):
    """The real Lloyd-iteration centroid trainer from kmeans.py (K rows),
    as the relation the store writes."""
    from alertas_spark.operators.kmeans import K, lloyd_centroids, seed_rows
    from alertas_spark.operators.embgate import valid_embeddings
    from alertas_spark.sources.catalog import load_table

    v = valid_embeddings(load_table(spark, SF, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    return spark.createDataFrame(lloyd_centroids(v, seed_rows(v, K)),
                                 "cid bigint, cvec array<double>")


def test_train_once_then_load(spark, tmp_path):
    from alertas_spark.operators import artifacts

    wh = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _train_centroids(spark)

    a1 = artifacts.load_or_build(spark, wh, "kmeans_centroids", "v1", build)
    rows1 = sorted((r.cid, tuple(round(x, 9) for x in r.cvec))
                   for r in a1.collect())
    assert calls["n"] == 1
    assert artifacts.exists(spark, wh, "kmeans_centroids", "v1")

    # second consumer: loads from parquet, builder NOT re-run, rows identical
    a2 = artifacts.load_or_build(spark, wh, "kmeans_centroids", "v1", build)
    rows2 = sorted((r.cid, tuple(round(x, 9) for x in r.cvec))
                   for r in a2.collect())
    assert calls["n"] == 1
    assert rows1 == rows2


def test_version_bump_retrains(spark, tmp_path):
    from alertas_spark.operators import artifacts

    wh = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _train_centroids(spark)

    artifacts.load_or_build(spark, wh, "kmeans_centroids", "v1", build)
    artifacts.load_or_build(spark, wh, "kmeans_centroids", "v2", build)
    assert calls["n"] == 2
    assert artifacts.versions(wh, "kmeans_centroids") == ["v1", "v2"]


def test_artifact_survives_disk_roundtrip_exactly(spark, tmp_path):
    """The on-disk artifact is value-identical to the in-memory training
    result — parquet round-trips bigint ids and double vectors exactly, so a
    tomorrow-session consumer sees bit-equal centroids."""
    from alertas_spark.operators import artifacts

    wh = str(tmp_path)
    trained = _train_centroids(spark)
    got = artifacts.load_or_build(spark, wh, "kmeans_centroids", "v1",
                                  lambda: trained)
    a = sorted((r.cid, tuple(r.cvec)) for r in trained.collect())
    b = sorted((r.cid, tuple(r.cvec)) for r in got.collect())
    assert a == b  # exact doubles, no tolerance


def test_incomplete_artifact_debris_is_rebuilt(spark, tmp_path):
    """A crashed pre-atomic writer's leftovers (part files, no _SUCCESS) must
    not be served: exists() is _SUCCESS-gated, and load_or_build replaces the
    debris with a complete atomically-renamed build."""
    from alertas_spark.operators import artifacts

    wh = str(tmp_path)
    debris = artifacts.artifact_path(wh, "kmeans_centroids", "v1")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00not parquet")  # truncated part file, no _SUCCESS
    assert not artifacts.exists(spark, wh, "kmeans_centroids", "v1")

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _train_centroids(spark)

    got = artifacts.load_or_build(spark, wh, "kmeans_centroids", "v1", build)
    assert calls["n"] == 1
    assert got.count() > 0
    assert artifacts.exists(spark, wh, "kmeans_centroids", "v1")
    # debris gone, no temp dirs left behind
    parent = os.path.dirname(debris)
    assert os.listdir(parent) == ["v=v1"]


def test_bounded_rows_refuses_one_row_past_the_bound(spark):
    """bounded_rows pulls at most ``max_rows + 1`` rows: a relation at the
    bound arrives whole, one row past it raises, and rows beyond the first
    ``max_rows + 1`` are never evaluated — the guard fires before the
    driver would hold an over-bound relation."""
    import pytest

    from alertas_spark.operators.artifacts import bounded_rows

    assert len(bounded_rows(spark.range(8), 8, "at_bound")) == 8
    with pytest.raises(ValueError, match="bound of 8 rows"):
        bounded_rows(spark.range(9), 8, "past_bound")
    # a row past max_rows + 1 that fails when evaluated: a whole-relation
    # collect would raise the SQL error, the bounded pull never reaches it
    poisoned = spark.range(0, 1000, numPartitions=1).select(
        F.when(F.col("id") < 9, F.col("id"))
        .otherwise(F.raise_error(F.lit("pulled past the bound")))
        .alias("id"))
    with pytest.raises(ValueError, match="bound of 8 rows"):
        bounded_rows(poisoned, 8, "poisoned")


def test_fingerprint_tracks_dataset_rewrites(tmp_path):
    """Same bytes rewritten (mtime bump) or different bytes → new version key;
    an untouched file → stable key."""
    from alertas_spark.operators import artifacts

    p = tmp_path / "embeddings.parquet"
    p.write_bytes(b"AAAA")
    f1 = artifacts.dataset_fingerprint(str(tmp_path), "embeddings")
    assert artifacts.dataset_fingerprint(str(tmp_path), "embeddings") == f1
    os.utime(p, ns=(1, 1))
    f2 = artifacts.dataset_fingerprint(str(tmp_path), "embeddings")
    assert f2 != f1


def test_fingerprint_tracks_directory_table_part_rewrites(tmp_path):
    """Directory-layout tables (<table>.parquet/ of part files) fingerprint by
    their PART files: an in-place same-name part rewrite leaves the directory
    inode's size/mtime unchanged, so stat'ing the dir (the old fallback) would
    serve a stale artifact."""
    from alertas_spark.operators import artifacts

    d = tmp_path / "embeddings.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"AAAA")
    (d / "_SUCCESS").write_bytes(b"")
    f1 = artifacts.dataset_fingerprint(str(tmp_path), "embeddings")
    assert artifacts.dataset_fingerprint(str(tmp_path), "embeddings") == f1
    # in-place rewrite: same file name, same byte count, new mtime — the dir
    # stat is unchanged but the dataset is not the same snapshot
    os.utime(part, ns=(1, 1))
    f2 = artifacts.dataset_fingerprint(str(tmp_path), "embeddings")
    assert f2 != f1
    # and a new part file changes it again
    (d / "part-00001.parquet").write_bytes(b"BBBB")
    assert artifacts.dataset_fingerprint(str(tmp_path), "embeddings") != f2


def _noop(spark, query) -> None:
    query.builder(spark, SF).write.format("noop").mode("overwrite").save()


def test_derived_persistent_queries_reuse_their_store(spark, tmp_path):
    """The persistent set is derived, never listed: every registered query
    runs once against its own fresh store root, and the ones that raised
    ``build_count()`` are the persistent set (bench.py's persistent tier
    applies the same rule).  Each of them must answer a memo-cold rerun
    from its store with zero builder calls."""
    from alertas_spark.operators import artifacts, memo
    from alertas_spark.registry import load_all

    reg = load_all()
    persistent = []
    try:
        for name in sorted(reg):
            spark.conf.set(artifacts.CONF_KEY, str(tmp_path / name))
            memo.clear()
            b0 = artifacts.build_count()
            _noop(spark, reg[name])
            if artifacts.build_count() == b0:
                continue
            persistent.append(name)
            memo.clear()  # simulated new session: memo cold, store warm
            b1 = artifacts.build_count()
            _noop(spark, reg[name])
            assert artifacts.build_count() == b1, f"{name} retrained"
    finally:
        spark.conf.unset(artifacts.CONF_KEY)
        memo.clear()
    assert {"pq_encode_trained", "bpe_train_merges"} <= set(persistent), \
        persistent


def test_artifact_count_counts_row_artifacts(spark):
    """A collected model-geometry artifact (``persistent_artifact_rows``)
    is a live memo artifact: bench reads ``memo.artifact_count()`` to find
    the memoized queries, and a query whose only artifact is a row list
    must not be invisible to it."""
    from alertas_spark.operators import artifacts, memo
    from alertas_spark.registry import load_all

    assert artifacts.artifact_root(spark) is None  # memo-only tier
    memo.clear()
    try:
        _noop(spark, load_all()["pq_encode_trained"])
        assert memo.artifact_count() > 0
        # a plain table read memoizes only its schema, which is no artifact
        memo.clear()
        _noop(spark, load_all()["top_revenue_orders"])
        assert memo.artifact_count() == 0
    finally:
        memo.clear()


def test_two_separate_sessions_second_skips_training(tmp_path):
    """THE cross-session claim, proven end to end: two separate OS processes
    (separate Spark JVMs), a shared $ALERTAS_ARTIFACTS_DIR.  The first session
    trains (build_calls == 2: IVF assignment + PQ codebook) and persists; the
    second answers both trained queries with ZERO builder invocations,
    identical rows, and — for the fully-artifact-derived IVF query — a plan
    whose only file source is _artifacts/ (no embeddings.parquet scan)."""
    import json
    import subprocess
    import sys

    env = dict(os.environ, ALERTAS_ARTIFACTS_DIR=str(tmp_path))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(phase):
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "tests", "_artifact_session.py"),
             phase],
            env=env, cwd=repo, capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr[-3000:]
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")][-1]
        return json.loads(line.removeprefix("RESULT "))

    first = run("first")
    assert first["build_calls"] == 2
    assert any("_artifacts" in s for s in os.listdir(str(tmp_path)))

    second = run("second")
    assert second["build_calls"] == 0, "second session retrained"
    assert second["rows"] == first["rows"]
    assert any("_artifacts" in s for s in second["ivf_plan_sources"])
    assert not any("embeddings.parquet" in s
                   for s in second["ivf_plan_sources"])


def test_lm_tables_roundtrip_identical_scores(spark, tmp_path):
    """The r14 LM persistence pin: for both perplexity queries, the scores
    computed memo-only, on the store-building first run, and on a
    memo-cold store-warm run are cell-identical — persisting the count
    tables changes WHERE the LM lives, never what it says."""
    from alertas_spark.operators import artifacts, memo
    from alertas_spark.registry import load_all

    reg = load_all()
    for name in ("perplexity_unigram", "perplexity_bigram_backoff"):
        memo.clear()
        base = sorted(map(tuple, reg[name].builder(spark, SF).collect()))
        spark.conf.set(artifacts.CONF_KEY, str(tmp_path / name))
        try:
            memo.clear()
            first = sorted(map(tuple,
                               reg[name].builder(spark, SF).collect()))
            memo.clear()  # simulated new session: memo cold, store warm
            warm = sorted(map(tuple,
                              reg[name].builder(spark, SF).collect()))
        finally:
            spark.conf.unset(artifacts.CONF_KEY)
            memo.clear()
        assert base == first == warm and len(base) > 0, name


def test_overlap_concurrent_builds_memoize_once(spark):
    """memo.overlap materializes independent artifacts concurrently, and the
    per-key lock makes concurrent same-key consumers build exactly once —
    the invariant the panel/dashboard §2.6 overlap rests on."""
    import threading

    from alertas_spark.operators import memo

    memo.clear()
    builds = {"a": 0, "b": 0}
    lock = threading.Lock()

    def make(key):
        def build():
            with lock:
                builds[key] += 1
            return spark.range(5).selectExpr(
                "id", f"'{key}' as k").localCheckpoint()
        return build

    # two distinct keys, each requested by TWO concurrent thunks
    thunks = [
        (lambda k=k: memo.session_value(spark, ("ovl_test", k), make(k)))
        for k in ("a", "b", "a", "b")
    ]
    results = memo.overlap(spark, thunks, max_workers=4)
    assert builds == {"a": 1, "b": 1}  # same-key races serialized, built once
    # both consumers of a key got the SAME memoized relation
    assert results[0] is results[2] and results[1] is results[3]
    assert sorted(r.first()["k"] for r in results) == ["a", "a", "b", "b"]
    # exceptions propagate all-or-nothing
    def boom():
        raise RuntimeError("axis failed")
    try:
        memo.overlap(spark, [boom, lambda: results[0]], max_workers=2)
        raise AssertionError("expected the thunk's exception to propagate")
    except RuntimeError as ex:
        assert "axis failed" in str(ex)
    memo.clear()


def test_overlap_thunks_inherit_the_callers_tags_not_each_others_groups(spark):
    """Every memo.overlap thunk sees the caller's session tags, no "Tags will
    not be inherited" warning is raised, and a job group one thunk sets stays
    on its own thread: both thunks set theirs, meet at a barrier, then read
    it back."""
    import threading
    import warnings

    from alertas_spark.operators import memo

    sc = spark.sparkContext
    caller_group = sc.getLocalProperty("spark.jobGroup.id")
    barrier = threading.Barrier(2)

    def probe(group):
        def run():
            sc.setJobGroup(group, group)
            barrier.wait(timeout=60)
            return set(spark.getTags()), sc.getLocalProperty("spark.jobGroup.id")
        return run

    spark.addTag("overlap-caller")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = memo.overlap(spark, [probe("g1"), probe("g2")], max_workers=2)
    finally:
        spark.removeTag("overlap-caller")
    assert got == [({"overlap-caller"}, "g1"), ({"overlap-caller"}, "g2")]
    assert not [w for w in caught if "Tags will not" in str(w.message)]
    assert sc.getLocalProperty("spark.jobGroup.id") == caller_group
