"""Probe the pandas BPE apply tier at a PRODUCTION vocabulary size.

SCALING.md's codegen-ceiling table shows the builtin replace-chain tier dying
at 512 merges and concludes "any production vocabulary (32k merges) is
pandas-tier territory" — this tool puts a number on the pandas tier there:

1. train a REAL n_merges=4096 byte-fallback merge table on the 10× sf0.1
   replica (the per-replica text mutation grows the word vocabulary, so the
   merges are genuine, not filler padding — tools/codegen_ceiling.py pads
   because the base fixture exhausts genuine pairs long before 1024);
2. time the production apply shape — one Arrow-batched UDF call per DISTINCT
   word, freq-weighted corpus token total — cold, min of 2;
3. report corpus tokens, wall seconds, and tokens/s.

Both pandas apply variants are measured: the rank-loop replace ``chain``
(cost O(n_merges) per distinct word, match or not) and the ``ranked``
equivalent (``_apply_merges_ranked``: lowest-applicable-rank passes over the
token list — cost independent of table size; pinned chain-equal in
tests/test_bpe.py).  The ranked variant is what the shipped UDFs run.

Usage: python tools/bpe_vocab_probe.py [n_merges] [vocab_top]
Paste the verdict rows into SCALING.md's codegen-ceiling section.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_MERGES = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
VOCAB_TOP = int(sys.argv[2]) if len(sys.argv) > 2 else 8192


def main() -> None:
    from pyspark.sql import functions as F

    from alertas_spark.operators import memo
    from alertas_spark.operators.bpe import (_apply_merges,
                                             _apply_merges_ranked,
                                             _merge_ranks, _train_merges_py)
    from alertas_spark.operators.bpe_bytes import _doc_words, _hex_atoms
    from alertas_spark.session import get_spark
    from tools.scale_probe import WORK, build_replica

    spark = get_spark("bpe-vocab-probe")
    big = build_replica(10)

    cache = os.path.join(WORK, f"bpe_merges_{N_MERGES}_{VOCAB_TOP}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            merges = [tuple(m) for m in json.load(fh)]
        print(f"loaded {len(merges)} cached merges ({cache})", flush=True)
    else:
        vocab = (_doc_words(spark, big)
                 .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
                 .orderBy(F.desc("freq"), F.asc("word"))
                 .limit(VOCAB_TOP)
                 .collect())
        t0 = time.perf_counter()
        merges = _train_merges_py([(r["word"], r["freq"]) for r in vocab],
                                  atoms=_hex_atoms, n_merges=N_MERGES)
        t_train = time.perf_counter() - t0
        print(f"trained {len(merges)} genuine merges over a {len(vocab)}-word "
              f"vocabulary in {t_train:.1f}s (driver-side loop)", flush=True)
        with open(cache, "w") as fh:
            json.dump(merges, fh)

    ms = [(lhs, rhs) for _rank, lhs, rhs, _freq in merges]
    bc = spark.sparkContext.broadcast(ms)

    @F.pandas_udf("bigint")
    def ntok_chain(words: pd.Series) -> pd.Series:
        m = bc.value
        return words.map(lambda w: len(_apply_merges(w, m, atoms=_hex_atoms)))

    @F.pandas_udf("bigint")
    def ntok_ranked(words: pd.Series) -> pd.Series:
        m = bc.value
        rk = _merge_ranks(m)
        return words.map(
            lambda w: len(_apply_merges_ranked(w, m, rk, atoms=_hex_atoms)))

    for label, ntok in (("ranked", ntok_ranked), ("chain", ntok_chain)):
        best = float("inf")
        stats = None
        for _ in range(2):  # min of 2: machine-noise guard
            memo.clear()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            row = (_doc_words(spark, big)
                   .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
                   .select(ntok(F.col("word")).alias("nt"), "freq")
                   .agg(F.sum(F.col("nt") * F.col("freq")).alias("tokens"),
                        F.sum("freq").alias("words"),
                        F.count(F.lit(1)).alias("distinct_words"))
                   .collect()[0])
            wall = time.perf_counter() - t0
            if wall < best:
                best, stats = wall, row
        print(f"{label:>6}: {stats['distinct_words']} distinct words, "
              f"{stats['words']} occurrences → {stats['tokens']} tokens "
              f"in {best:.1f}s → {stats['tokens'] / best / 1e6:.2f}M tokens/s "
              f"({stats['distinct_words'] / best:.0f} distinct words/s)",
              flush=True)


if __name__ == "__main__":
    main()
