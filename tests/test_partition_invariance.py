"""Partitioning-invariance: the distributed-correctness property.

A 100 TB run executes with different scan splits, shuffle widths, and merge orders
than any test box.  Every operator we ship must produce the IDENTICAL result under
any partitioning — that is what the decimal-sum contracts, sequential folds, and
deterministic tie-breaks buy.  These tests run the same query under adversarially
different partitioning configs (tiny scan splits + narrow shuffle vs defaults) and
assert cell-exact equality.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"

#: operators whose determinism contracts this file pins
QUERIES = [
    "asof_join_click_view",      # carry-forward ordering
    "dedup_components",          # iterative label propagation
    "kmeans_assign",             # decimal-exact centroid means
    "pack_sequences",            # per-shard window cumsum
    "salted_skew_agg",           # two-phase decimal aggregation
    "sample_hash_stratified",    # hash-derived sampling
    "product_aggregate",         # fixed-point EXP(SUM(LN)) quantization
    "pq_encode",                 # numpy scan-side argmin, driver codebook
    "pq_encode_trained",         # Lloyd update: decimal means + quantized qerr
    "simsearch_topk_ivf_trained",     # collected seed -> numpy k-means argmin
    "simsearch_topk_ivfpq_residual",  # numpy residual PQ + driver query LUT
    "simsearch_topk_pq_reranked",  # ADC shortlist + exact-cosine re-rank
    "simsearch_topk_bruteforce",   # two-phase top-k local shortlist (topk.py)
    "dedup_cluster_representative",  # CC labels + deterministic rep pick
    "running_total_per_customer",    # decimal frame-sum running total
    "moving_avg_daily_revenue",      # aggregate-then-window decimal MA
    "scd2_priority_history",         # daily-grain change detection + LEAD
    "merge_upsert_customers",        # max_by(struct) latest-row election
    "pagerank_trade_graph",          # decimal contribs + quantized state
    "trimmed_mean_order_value",      # UDAF: in-group sort + decimal-6 sum
    "trimmed_mean_order_value_builtin",  # window-rank trim + decimal agg
    "ivm_incremental_revenue_retract",   # negative-partial retraction merge
    "regr_price_vs_quantity",            # decimal moment sums -> closed form
    "sample_weighted_topk",              # quantized-ln A-ES priorities + topk
    "small_quantity_order_revenue",  # decimal-avg correlated threshold
    "ivm_incremental_revenue",       # unrounded-decimal partial merge
    "bpe_train_merges",              # trainer cutoff + merge tie-breaks (r12)
    "bpe_token_count",               # Arrow apply + vocab join-back (r12)
    "pack_sequences_bpe",            # subword-budget window cumsum (r12)
    "perplexity_bigram_backoff",     # quantized-ln bigram term algebra (r12)
    "perplexity_kn_trigram",         # IEEE-double KN branches + quantized ln (r16)
    "lr_quality_score",              # IRLS integer sums + quantized sigmoid (r16)
    "ulm_token_count",               # Viterbi integer DP over broadcast vocab (r16)
    "dataset_mix_unimax",            # closed-form integer waterfill window (r16)
    "decontaminate_embedding",       # sequential-fold cosine + top-1 rank (r12)
    "dedup_substring_scrub",         # fingerprint keep-first + islands (r12)
    "multimodal_video_features",     # per-row codec passes, no shuffle (r12)
]


def _rows(spark, name: str):
    from alertas_spark.operators import memo
    from alertas_spark.registry import load_all

    # drop session-memoized trained artifacts: the point of this file is that
    # RE-derivation under an adversarial layout reproduces the same result, so
    # each run must retrain from scratch
    memo.clear()
    df = load_all()[name].builder(spark, SF)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_partitioning(spark, name):
    base = _rows(spark, name)
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_shuf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # adversarial layout: ~64 KB scan splits and a prime shuffle width
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        alt = _rows(spark, name)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuf)
    assert base == alt, f"{name} result depends on partitioning"
