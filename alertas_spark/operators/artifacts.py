"""Persistent trained-artifact store — the cross-SESSION tier above memo.py.

``memo.session_value`` deduplicates training inside one session; a nightly
100 TB pipeline needs the next tier: a trained quantizer (k-means centroids,
PQ codebooks) is produced by a full-corpus scan ONCE, persisted as a tiny
versioned parquet relation, and every later session loads it in milliseconds
instead of re-scanning the corpus.  This module is that store:

* **layout** — ``<root>/_artifacts/<name>/v=<version>/`` parquet; the version
  is an explicit cache key combining a CODE_VERSION (bump when the trainer's
  logic changes) with a **dataset fingerprint** (size + mtime of the input
  parquet files), so a regenerated fixture or refreshed snapshot auto-triggers
  retraining — stale-artifact reuse is impossible without touching code.
* **atomic first write** — the builder's output goes to a session-private temp
  directory that is ``os.rename``-d into ``v=<version>`` only after Spark's
  job commit completes; a concurrent session can never observe a
  partially-written artifact, and ``exists`` additionally requires the
  ``_SUCCESS`` marker (so a crashed pre-atomic writer's debris is rebuilt
  over, not served).  If two sessions race, the loser's rename fails and it
  simply reads the winner's (deterministically identical) artifact.
* **load_or_build** — read the artifact if its version directory is complete,
  else run the builder, persist atomically, and return the persisted copy
  (read back, so the caller always consumes the on-disk artifact — a
  subsequent session is byte-identical to the first).
* **composition** — :func:`persistent_artifact` layers
  ``memo.session_value`` over ``load_or_build``: within a session the
  parquet is opened at most once, and across sessions the training pipeline
  runs at most once per version.  When no artifact root is configured
  (``spark.alertas.artifacts.dir`` conf, else ``ALERTAS_ARTIFACTS_DIR`` env)
  the call degrades to the session memo alone — ad-hoc sessions keep training
  in-session; a deployed pipeline points the conf at its warehouse and every
  consumer shares the trained relation.

Determinism makes this safe: every trainer in this engine is deterministic
(decimal means, fixed seeds, explicit tiebreaks — test_partition_invariance),
so an artifact trained yesterday on yesterday's snapshot equals one trained
today on the same snapshot; the fingerprint handles the snapshot moving.
"""

from __future__ import annotations

import glob
import hashlib
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from alertas_spark.operators.memo import session_value
from alertas_spark.sources import parquet

#: Spark conf key (checked first) and env fallback naming the artifact root.
CONF_KEY = "spark.alertas.artifacts.dir"
ENV_KEY = "ALERTAS_ARTIFACTS_DIR"

#: Builder invocations since process start — lets a test (or a second session
#: asserting cross-session reuse) prove that a query ran WITHOUT training.
_BUILD_CALLS = 0


def build_count() -> int:
    return _BUILD_CALLS


def artifact_root(spark: SparkSession) -> str | None:
    """The configured store root, or None (store disabled — memo-only tier)."""
    root = spark.conf.get(CONF_KEY, None)
    if not root:
        root = os.environ.get(ENV_KEY) or None
    return root


def dataset_fingerprint(sf_dir: str, table: str) -> str:
    """Short content key for a table's parquet files: (name, size, mtime_ns)
    per file, hashed.  Cheap (pure stat, no reads) and conservative — any
    rewrite of the input invalidates dependent artifacts."""
    h = hashlib.sha1()
    pat = os.path.join(sf_dir, f"{table}.parquet")
    # a directory-table (<table>.parquet/ holding part files) must be
    # fingerprinted by its PART files: glob(pat) matches the directory
    # itself, whose size/mtime do NOT change on an in-place same-name part
    # rewrite — stat'ing the dir would serve a stale artifact
    if os.path.isdir(pat):
        files = sorted(glob.glob(os.path.join(pat, "*.parquet")))
    else:
        files = sorted(glob.glob(pat))
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def artifact_path(root: str, name: str, version: str) -> str:
    return os.path.join(root, "_artifacts", name, f"v={version}")


def exists(spark: SparkSession, root: str, name: str, version: str) -> bool:
    """Complete-artifact check: the version directory must carry Spark's
    ``_SUCCESS`` job-commit marker — a part file alone may be the debris of a
    crashed writer (pre-atomic layouts) and must NOT be served."""
    path = artifact_path(root, name, version)
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def load_or_build(spark: SparkSession, root: str, name: str,
                  version: str, build: Callable[[], DataFrame]) -> DataFrame:
    """Return the persisted artifact, training + persisting on first use.

    The builder's result is written to a private temp dir then atomically
    renamed into ``v=<version>`` and READ BACK, so first and later sessions
    consume the identical on-disk relation (no written-vs-in-memory drift —
    parquet round-trips our artifact types exactly: bigint ids, double
    vectors).  A lost rename race falls through to reading the winner's copy:
    trainers are deterministic, so the two artifacts are interchangeable."""
    global _BUILD_CALLS
    path = artifact_path(root, name, version)
    if not exists(spark, root, name, version):
        _BUILD_CALLS += 1
        tmp = f"{path}.__tmp__{uuid.uuid4().hex}"
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # another session committed first (or stale debris occupies the
            # final path without _SUCCESS): keep/serve whichever copy is
            # complete, clean up ours
            import shutil

            if not exists(spark, root, name, version):
                # debris at `path` from a crashed pre-atomic writer.  Move it
                # ASIDE rather than rmtree-ing in place: a racer may have
                # completed the artifact between the exists() above and now,
                # and deleting would yank files from under a concurrent
                # reader — renaming keeps that copy intact and our own
                # (deterministically identical) tmp replaces it one rename
                # later.  Full closure of the remaining instant would need an
                # O_EXCL lock file; deferred for a local-FS store.
                debris = f"{path}.__debris__{uuid.uuid4().hex}"
                try:
                    os.rename(path, debris)
                except OSError:
                    pass  # a concurrent recoverer already vacated `path`
                try:
                    # attempted even when the debris rename failed: if the
                    # path is vacant (the racer moved the debris aside but
                    # has not committed yet), our complete tmp fills it and
                    # the final read below cannot hit a transiently-empty
                    # path
                    os.rename(tmp, path)
                except OSError:
                    pass  # lost a second race: serve whoever committed
                shutil.rmtree(debris, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
    return parquet.read(spark, path)


def persistent_artifact(spark: SparkSession, sf_dir: str, name: str,
                        code_version: str, table: str,
                        build: Callable[[], DataFrame]) -> DataFrame:
    """The composed trained-artifact tier used by declared query paths.

    Session memo over the persistent store: ``(name, sf_dir)`` resolves to one
    DataFrame per session; on memo miss, the store is consulted (when
    configured) before the trainer runs.  ``table`` names the input relation
    whose fingerprint keys the version.

    ``build`` may return a LAZY plan — this tier owns materialization.  The
    memo-only branch localCheckpoints it (session_value's eager contract for
    relations); the store branch materializes through load_or_build's parquet
    write + read-back, so a builder-side checkpoint there would run the
    trainer TWICE (once into checkpoint blocks, once into the artifact file —
    the r14 localCheckpoint double-materialization, removed r15)."""
    root = artifact_root(spark)
    if root is None:
        return session_value(spark, (name, sf_dir),
                             lambda: build().localCheckpoint())
    version = f"{code_version}-{dataset_fingerprint(sf_dir, table)}"
    return session_value(
        spark, (name, sf_dir, "persistent", version),
        lambda: load_or_build(spark, root, name, version, build))


def _within(rows: list, max_rows: int, what: str) -> list:
    if len(rows) > max_rows:
        raise ValueError(
            f"bounded_rows({what}): the relation exceeds the stated "
            f"model-geometry bound of {max_rows} rows — refusing the "
            f"driver pull")
    return rows


def bounded_rows(df: DataFrame, max_rows: int, what: str) -> list:
    """Collect a MODEL-GEOMETRY relation to the driver (the sanctioned
    S15-class bounded pull): ``max_rows`` states the geometry bound and is
    ENFORCED — this helper must never see a corpus-sized relation.  Doubles
    arrive bit-exactly (collect yields the binary C double).  The pull is
    ``limit(max_rows + 1)``: an over-bound relation ships one row past the
    bound, never the whole relation, so the guard fires before a driver OOM.
    That ``limit`` pull is an incremental take, which can be several jobs
    when the rows are not in the first partition."""
    return _within(df.limit(max_rows + 1).collect(), max_rows, what)


def persistent_artifact_rows(spark: SparkSession, sf_dir: str, name: str,
                             code_version: str, table: str,
                             build: Callable[[], list], schema: str,
                             max_rows: int) -> list:
    """The trained-artifact tier for MODEL-GEOMETRY tables (≤ ``max_rows``
    rows: trained centroid/codeword tables) that live on the driver:
    ``build`` returns the trained ROWS (the Lloyd trainers finish their
    means on the driver), and so does this call.  Consumers hand the rows to
    numpy kernels — the executor-side argmin (``kmeans.argmin_arrow``), the
    PQ encode and ADC scans (``pq._encoded``, ``pq._adc_topk``) or the
    driver-side query LUT (``pq._probe_lut``) — with no pack
    aggregation, BroadcastExchange job or join (the trainer chains are
    job-count-bound).  The memo-only branch memoizes the built rows; the
    store branch turns them into a ``schema`` relation only for the parquet
    write (one file) and collects the read-back, with the same name/version
    keys as :func:`persistent_artifact`."""
    root = artifact_root(spark)
    if root is None:
        return session_value(spark, (name, sf_dir, "rows"),
                             lambda: _within(build(), max_rows, name))
    version = f"{code_version}-{dataset_fingerprint(sf_dir, table)}"

    def relation() -> DataFrame:
        rows = _within(build(), max_rows, name)
        return spark.createDataFrame(rows, schema).coalesce(1)

    return session_value(
        spark, (name, sf_dir, "persistent-rows", version),
        lambda: bounded_rows(load_or_build(spark, root, name, version,
                                           relation), max_rows, name))


def versions(root: str, name: str) -> list[str]:
    """Persisted versions of ``name`` (housekeeping: old versions are plain
    directories — retention is an ``rm`` away, never a cache-coherence
    question, because readers pin their version explicitly)."""
    d = os.path.join(root, "_artifacts", name)
    if not os.path.isdir(d):
        return []
    return sorted(p.removeprefix("v=") for p in os.listdir(d)
                  if p.startswith("v=")
                  and "__tmp__" not in p and "__debris__" not in p)
