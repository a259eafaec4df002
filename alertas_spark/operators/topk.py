"""Distributed two-phase top-k: per-partition shortlist → exact final rank.

A global ``Window.partitionBy(query_id)`` rank parallelizes only across distinct
query ids: with 10 queries the rank stage has 10 partitions and each one sorts
its FULL candidate set in a single task — the classic scale-killer hiding in an
otherwise-clean ANN plan (this repo's round-5 verdict, `pq.py` / `simsearch.py`).

The fix is the standard two-phase shape every distributed top-k uses
(SELECT-ORDER-LIMIT in Spark itself runs as ``TakeOrderedAndProject`` with
per-partition partial top-k):

1. **local phase** — every input partition reduces to at most ``k`` rows per
   key with NO shuffle (``mapInPandas`` pass-through: rows are selected, never
   recomputed, so float values stay bit-identical to the upstream plan);
2. **global phase** — the surviving ``≤ k · n_partitions · n_keys`` rows (tiny)
   get the exact rank with the original window.

Correctness: the global top-k under a total order is contained in the union of
per-partition top-k under the same order, so phase 2 over phase 1's output is
exactly equal to the full rank — for ANY partitioning of the input.  The order
must be total (tie column unique per key) for determinism; every caller ranks
by a float with the candidate id as tiebreak.

Callers: the exact-cosine family through ``simsearch.cosine_topk``
(``simsearch_topk_bruteforce`` / ``_ivf`` / ``_ivf_assigned`` / ``_multiprobe``,
``kmeans.simsearch_topk_ivf_trained``, ``decontaminate_embedding``), the hamming
and int8 tiers, ``sample_weighted_topk``, the DSIR selections, ``countmin`` and
``pipeline.py``.  ``pq._adc_topk``, the one scan of every PQ tier (flat PQ,
PQ+R, IVFADC, IVFADC+R), computes its own scores in numpy and folds them into
the same running shortlist (:func:`merge_shortlist`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_shortlist(best, pdf, keys, by: str, tie: str, k: int,
                    ascending: bool = True):
    """One pandas step of a running per-partition shortlist: ``pdf`` folded
    into ``best`` (``None`` before the first batch), keeping the ``k`` best
    rows per ``keys`` by ``(by, tie)`` (``tie`` always ascending).  A stable
    sort, so rows are selected, never recomputed; memory stays O(k · keys) +
    one batch."""
    import pandas as pd

    cur = pdf if best is None else pd.concat((best, pdf), ignore_index=True)
    cur = cur.sort_values([by, tie], ascending=[ascending, True],
                          kind="mergesort", ignore_index=True)
    return cur.groupby(keys, sort=False).head(k)


def local_topk(df: DataFrame, keys: Sequence[str], by: str, tie: str, k: int,
               ascending: bool) -> DataFrame:
    """Phase 1: reduce ``df`` to ≤ ``k`` rows per ``keys`` group per partition,
    ordered by ``(by, tie)`` (``tie`` always ascending).  Selection only — every
    surviving row is byte-identical to its input row."""
    keys = list(keys)

    def gen(batches):
        best = None
        for pdf in batches:
            best = merge_shortlist(best, pdf, keys, by, tie, k, ascending)
        if best is not None and len(best):
            yield best

    return df.mapInPandas(gen, df.schema)


def ranked_topk(scored: DataFrame, key: str, by: str, tie: str, k: int,
                ascending: bool, rank_col: str = "rnk") -> DataFrame:
    """Two-phase exact top-k: rows of ``scored`` holding the ``k`` best per
    ``key`` by ``(by, tie)``, with their exact global rank in ``rank_col``.
    Plan shape: zero-shuffle local shortlist, then one window over the reduced
    set — never a full-corpus sort in ``n_keys`` tasks."""
    order: list[Column] = [
        F.asc(by) if ascending else F.desc(by), F.asc(tie)]
    shortlist = local_topk(scored, [key], by, tie, k, ascending)
    w = Window.partitionBy(key).orderBy(*order)
    return (shortlist.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))
