"""Session-scoped memo for expensive trained artifacts.

Iteratively-trained relations (the k-means coarse quantizer's assignment table,
trained PQ codebooks) are produced by multi-round Lloyd loops whose results are
already materialized via ``localCheckpoint`` to truncate lineage.  Several
declared queries in one session need the *same* artifact (the standalone trained
query, the recall dashboard, the re-rank tier), and the driver / bench / verify
harnesses run them all back-to-back in a single session — retraining per query
repeats identical work.

This memo caches the checkpointed artifact keyed by ``(session, sf_dir, name)``
so training runs once per session per dataset.  Only relations that are ALREADY
``localCheckpoint``-ed belong here: the memo then changes no downstream plan
shape (consumers were reading a checkpoint scan either way), only how many times
the training pipeline runs.  One dict (:func:`session_value`) holds every kind
of session value: checkpointed relations, collected model rows, and the
``sc.broadcast`` of each trained model that :func:`model_udf` — the one
constructor of broadcast-model pandas UDFs — ships once per session.

At 100 TB the same pattern holds — a trained quantizer is a tiny shared artifact
(K × DIM doubles) produced once, pulled to the driver, and handed to every
consumer's numpy kernel; re-deriving it inside each query would repeat
full-corpus scans.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence
from typing import TypeVar

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")

#: ONE dict for every memoized session value — checkpointed relations,
#: collected model rows and model broadcasts alike.  Keys are disjoint by
#: construction: artifact names never repeat across kinds and
#: :func:`model_udf` prefixes its broadcasts with ``"broadcast"``.
_CACHE: dict[tuple, object] = {}

#: per-key build locks so concurrent consumers of the SAME artifact build it
#: once (the second thread blocks, then reads the memo) while DIFFERENT
#: artifacts build concurrently (:func:`overlap`).  ``_LOCKS_GUARD`` protects
#: the lock dict itself; individual dict get/set on ``_CACHE`` are GIL-atomic.
_LOCKS_GUARD = threading.Lock()
_LOCKS: dict[tuple, threading.Lock] = {}


def _key_lock(k: tuple) -> threading.Lock:
    with _LOCKS_GUARD:
        lock = _LOCKS.get(k)
        if lock is None:
            lock = _LOCKS[k] = threading.Lock()
        return lock


def session_value(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Return the memoized value for ``key``, building (and caching) on miss.

    A relation handed out here must be eagerly materialized
    (``localCheckpoint``) — the memo gives the same object to every consumer
    in the session.  Collected model rows and ``sc.broadcast`` handles
    (:func:`model_udf`) share the same dict.

    Keyed by ``applicationId`` (unique per SparkContext), not ``id(spark)``: a
    stopped context invalidates its checkpointed blocks, and a Python object id
    can be reused after GC — either would hand a dead artifact to a new session.

    Thread-safe under :func:`overlap`: a per-key lock serializes same-key
    builds (two concurrent ANN tiers sharing one trained codebook train it
    once), while distinct keys build concurrently."""
    k = (spark.sparkContext.applicationId, *key)
    if k not in _CACHE:
        with _key_lock(k):
            if k not in _CACHE:
                _CACHE[k] = build()
    return _CACHE[k]


def model_udf(spark: SparkSession, key: tuple, load: Callable[[], object],
              make: Callable[[object], Callable], return_type: str):
    """The one constructor for broadcast-model pandas UDFs.

    ``load()`` pulls a trained model to the driver (a bounded pull) and the
    session ships it to executors ONCE per ``key`` — one memoized
    ``sc.broadcast`` per (model, corpus), shared by every UDF built over the
    same key, so a session running a tokenizer's counts, census and
    streaming gate sends the model once.  The returned Arrow-batched UDF maps
    ``make(model)`` — the per-element function, built once per batch — over
    each batch."""
    bc = session_value(spark, ("broadcast", *key),
                       lambda: spark.sparkContext.broadcast(load()))

    @F.pandas_udf(return_type)
    def apply(xs: pd.Series) -> pd.Series:
        return xs.map(make(bc.value))

    return apply


def overlap(spark: SparkSession, thunks: Sequence[Callable[[], T]],
            max_workers: int = 3) -> list[T]:
    """Run independent Spark actions CONCURRENTLY (optimization guide §2.6
    "overlap independent jobs"): each ``localCheckpoint`` is its own Spark
    action, and running them back-to-back from the driver leaves the cluster
    idle through every job's straggler tail.  Spark's scheduler runs
    concurrent jobs FIFO — the next job's tasks back-fill executors freed by
    the current job's tail — so a small pool cuts the wall-clock of an
    N-artifact build toward the longest single artifact without changing any
    result (every build is deterministic and lands in the same memo slot it
    would sequentially; same-key races are serialized by the per-key lock in
    :func:`session_value`).  The nightly batch stages its alerts and
    publishes its families through the same pool.

    Every thunk runs on a pool thread wrapped with the caller's ``spark``
    (``inheritable_thread_target(spark)``): it inherits the caller's local
    properties (job group, scheduler pool) AND its session tags
    (``spark.addTag``), so its jobs can be attributed and cancelled by tag.
    Each thunk is wrapped separately: one wrapper clones the caller's
    properties once and installs that same object on every thread it runs
    on, so a job group one thunk sets would leak into the others.

    Pool size 3 by default per the guide: enough in flight to fill stage
    tails, not so many that jobs fight for task slots (or, locally, that
    concurrent aggregation buffers stack up in one heap).  Thunk exceptions
    propagate — results come back in input order, all-or-nothing."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t))
                   for t in thunks]
        return [f.result() for f in futures]


_PERSISTED: list[DataFrame] = []


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()`` with cold-protocol registration.

    Operator-internal caches (a signature table read three times inside one
    query) are legitimate plan structure, but Spark's CacheManager substitutes
    a cached plan into ANY later query by canonicalized-subplan match — so an
    untracked ``.cache()`` silently warms the next cold-timed run of the same
    query AND of different queries sharing the subplan (measured: the prefix-
    filter join timed 3.3s in the full-corpus bench but 18.6s standalone,
    because the ngram verifier's cached shingle table fed its scan).  Routing
    through here lets ``clear()`` unpersist everything an operator pinned, so
    bench/probe cold timings stay cold."""
    _PERSISTED.append(df.cache())
    return df


def clear() -> None:
    """Drop all memoized artifacts AND unpersist tracked operator caches
    (tests / bench / plan audits that need cold builds)."""
    _CACHE.clear()
    with _LOCKS_GUARD:
        _LOCKS.clear()
    for df in _PERSISTED:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass
    _PERSISTED.clear()


def artifact_count() -> int:
    """Number of live memoized values — relations, rows and broadcasts (bench
    uses this to detect which queries build session artifacts, so warm
    timings can be reported separately from the cold headline)."""
    return len(_CACHE)
