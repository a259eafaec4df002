"""Plan-shape regression tests: pin the 100 TB-relevant physical-plan properties.

A query can stay value-correct while its plan silently degrades (a lost pushdown, a
join falling back to nested-loop, an extra shuffle).  These asserts lock the plan
properties the scale design depends on, per operator family.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _plan(df, mode: str = "simple") -> str:
    # "simple" mode: each physical node appears exactly once (formatted mode lists
    # nodes twice — tree + detail section — which breaks occurrence counting;
    # tools/plan_audit.audit_plan reads formatted plans and counts one section)
    spark = df.sparkSession
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def _build(spark, name: str):
    from alertas_spark.registry import load_all

    return load_all()[name].builder(spark, SF)


def test_range_bin_join_is_equi_not_nested_loop(spark):
    plan = _plan(_build(spark, "range_bin_join_order_shipments"))
    assert "BroadcastNestedLoopJoin" not in plan, \
        "binned range join must plan as an equi-join"
    assert "CartesianProduct" not in plan


def test_sampling_filter_reaches_the_scan(spark):
    plan = _plan(_build(spark, "sample_hash_stratified"))
    assert plan.count("FileScan") == 1, "sampling must be a single-scan projection"
    assert "*(1) Filter" in plan, "hash filter must stay in a codegen span"
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan, \
        "scan must be pruned to the two referenced columns"


def test_asof_join_is_single_shuffle_no_join(spark):
    plan = _plan(_build(spark, "asof_join_click_view"))
    # union + carry-forward: exactly one key shuffle for the window, zero join nodes
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    for join_node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                      "BroadcastNestedLoopJoin"):
        assert join_node not in plan


def test_decontamination_broadcasts_the_benchmark_side(spark):
    plan = _plan(_build(spark, "decontaminate_overlap"))
    assert "BroadcastHashJoin" in plan, \
        "benchmark n-grams must broadcast; shuffling the corpus side is the failure"


def test_ivf_assignment_is_shuffle_free_projection(spark):
    from alertas_spark.operators.simsearch import _bucket_expr
    from alertas_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    assigned = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .withColumn("bucket", F.expr(_bucket_expr(one_based=False)))
    )
    plan = _plan(assigned)
    assert "Exchange" not in plan, "hyperplane assignment must not shuffle"


def test_alert_gate_single_join_subtree(spark):
    """The round-2 GATE rewrite: one OR filter, one join subtree, no Union."""
    from alertas_spark.registry import load_all

    df = load_all()["alerta_gate"].builder(spark, SF)
    plan = _plan(df)
    assert "Union" not in plan


def test_tfidf_df_join_is_not_hint_broadcast(spark):
    # The per-term document-frequency relation is the full corpus vocabulary —
    # unbounded at scale, so it must never carry a broadcast hint.  With the
    # auto-broadcast threshold off, a hint is the only thing that could still
    # plan the term join as broadcast: assert it plans as a shuffle join.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(_build(spark, "tfidf_top_terms"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, "df↔tf term join must be shuffle-joinable"
    assert "BroadcastHashJoin" not in plan, \
        "no equi-join side may be hint-broadcast (vocabulary is unbounded)"
    # the single-row n_docs scalar keeps its legitimate broadcast (J7 idiom)
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_asof_salted_windows_partition_on_user_and_bin(spark):
    # Straggler protection: the big-relation window must partition on
    # (user_id, bin) — never user_id alone — so one mega-user can't own a task.
    # Only the tiny per-bin summary window may partition on bare user_id.
    plan = _plan(_build(spark, "asof_join_salted"))
    assert "hashpartitioning(user_id" in plan
    big_window_keys = [seg.split("],")[0] for seg in plan.split("Window [")[1:]]
    per_user_only = [k for k in big_window_keys
                     if "user_id" in k and "bin" not in k]
    # exactly one bare-user window: the per-(user, bin) summary prefix pass
    assert len(per_user_only) <= 1, per_user_only


def test_dataset_mix_is_shuffle_free_scan_side_explode(spark):
    plan = _plan(_build(spark, "dataset_mix_weighted"))
    assert "Exchange" not in plan, "mixing must generate copies where rows are read"
    assert plan.count("FileScan") == 1


def test_shuffle_shards_single_exchange(spark):
    plan = _plan(_build(spark, "shuffle_shards"))
    # one hash exchange on the shard key; per-shard sort, never a global sort
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan.lower(), \
        "a range partitioning would imply a global ordering"


def test_dedup_lines_two_key_shuffles(spark):
    plan = _plan(_build(spark, "dedup_lines"))
    # line-key window shuffle + doc-id reassembly shuffle, and nothing else
    assert plan.count("Exchange") == 2, plan.count("Exchange")


def test_vocab_top_k_is_take_ordered_not_global_sort(spark):
    plan = _plan(_build(spark, "vocab_top_tokens"))
    assert "TakeOrderedAndProject" in plan, \
        "top-k must plan as per-partition heaps, not a global sort"


def test_dedup_incremental_reuses_the_fingerprint_exchange(spark):
    plan = _plan(_build(spark, "dedup_incremental"))
    assert "CartesianProduct" not in plan
    # window + anti join both key on fp: the scan-side exchange must be shared
    assert "ReusedExchange" in plan or plan.count("Exchange") <= 2, plan


@pytest.mark.parametrize("name", ["pq_encode", "pq_encode_trained"])
def test_pq_encode_is_scan_side_after_codebook_build(spark, name):
    plan = _plan(_build(spark, name))
    # the seed codebook is a driver-held bounded pull (pq._head_rows) and the
    # trained one driver rows from the fused Lloyd job, so the plan is the
    # scan plus ONE numpy encode pass (pq._encoded): no exchange of any kind
    assert plan.count("Exchange") == 0, plan.count("Exchange")
    assert plan.count("MapInPandas") == 1, plan


def test_ivfadc_query_side_is_driver_numpy(spark):
    """The IVFADC probes and LUT are computed on the driver (pq._probe_lut)
    and ride into the ADC scan's kernel: no ``inline`` Generate over a
    literal codebook, and no Window beyond the result ranks — one for the
    residual tier's top-k, two for the rerank tier (ADC shortlist, exact
    re-rank).  The former query-side probe rank was a third kind."""
    import re

    for name, windows in (("simsearch_topk_ivfpq_residual", 1),
                          ("simsearch_topk_ivfpq_rerank", 2)):
        plan = _plan(_build(spark, name))
        assert "Generate inline" not in plan, name
        assert len(re.findall(r"\bWindow \[", plan)) == windows, name


def test_trainer_argmin_never_reruns_as_an_inferred_filter(spark):
    """Every k-means / PQ assign is ONE numpy kernel over Arrow batches
    (kmeans.argmin_arrow): its id and distance are declared non-nullable in
    the kernel's output schema, so a join on the id infers no ``isnotnull``
    constraint, and the Python node is a barrier Catalyst pushes no filter
    through — the argmin runs once per row (an inferred filter re-running
    the former interpreted argmin chain cost 13.3 s vs 1.1 s on the IVFADC
    scorer at sf0.1).  The assign kernel shows as ``MapInArrow`` in
    ``kmeans_assign``; ``simsearch_topk_ivf_trained`` reads the
    checkpointed assignment artifact, and the PQ encode and IVFADC scan
    assign inside their own ``mapInPandas`` pass (pq._encoded,
    pq._adc_topk).  No Filter may carry an interpreted argmin:
    ``array_min`` or an ``aggregate(zip_with(..))`` distance fold (the
    embedding validity gate's ``aggregate(transform(..))`` norm fold is a
    legitimate Filter and stays allowed)."""
    import re

    for name in ("kmeans_assign", "simsearch_topk_ivf_trained",
                 "pq_encode_trained", "simsearch_topk_ivfpq_residual"):
        plan = _plan(_build(spark, name))
        if name == "kmeans_assign":
            assert "MapInArrow" in plan, name
        conds = [ln.split("Filter ", 1)[1] for ln in plan.splitlines()
                 if re.search(r"\bFilter ", ln)]
        for cond in conds:
            for hof in ("array_min", "zip_with"):
                assert hof not in cond, (name, cond[:300])


@pytest.mark.parametrize("name", ["simsearch_topk_pq",
                                  "simsearch_topk_ivfpq_residual"])
def test_pq_adc_topk_shuffles_only_for_the_window(spark, name):
    from tools.plan_audit import audit_plan

    df = _build(spark, name)
    plan = _plan(df)
    # the one Python-eval node is the ADC scan itself (pq._adc_topk)
    assert audit_plan(_plan(df, "formatted"))["py"] == 1
    # r6 two-phase shape: coarse assign + codes + ADC distances +
    # partition-local top-k all live in one numpy mapInPandas scan; the ONLY
    # shuffle is the exact final rank window over the
    # ≤ k·partitions-per-query shortlist
    non_broadcast = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert non_broadcast == 1, non_broadcast
    assert "MapInPandas" in plan, "partial top-k must run scan-side"
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_exact_cosine_tiers_rank_one_shortlist_per_window(spark):
    """Every exact-cosine tier scores and ranks through
    ``simsearch.cosine_topk``: its plan has ONE rank ``Window`` whose input is
    ONE ``MapInPandas`` per-partition shortlist (selection-only; simple-mode
    plans list the parent first), so the window sees ≤ k·partitions rows per
    key — no tier ranks its whole pair relation in ``n_keys`` tasks — and no
    ``CartesianProduct``."""
    import re

    for name in ("simsearch_topk_bruteforce", "simsearch_topk_ivf",
                 "simsearch_topk_ivf_assigned", "simsearch_topk_multiprobe",
                 "simsearch_topk_ivf_trained", "decontaminate_embedding"):
        plan = _plan(_build(spark, name))
        assert plan.count("MapInPandas") == 1, name
        assert len(re.findall(r"\bWindow \[", plan)) == 1, name
        assert plan.index("Window [") < plan.index("MapInPandas"), name
        assert "CartesianProduct" not in plan, name


def test_ranked_topk_equals_full_rank(spark):
    """Two-phase exact top-k == the full global rank, under an adversarial
    partition layout (many tiny partitions, duplicate scores forcing the tie
    path)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from alertas_spark.operators.topk import ranked_topk

    rows = [(i % 7, i, float((i * 37) % 11)) for i in range(500)]
    df = (spark.createDataFrame(rows, "k int, vid long, score double")
          .repartition(23))
    got = ranked_topk(df, "k", "score", "vid", 4, ascending=False)
    w = Window.partitionBy("k").orderBy(F.desc("score"), F.asc("vid"))
    want = (df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 4))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # ascending variant too
    got_a = ranked_topk(df, "k", "score", "vid", 3, ascending=True)
    wa = Window.partitionBy("k").orderBy(F.asc("score"), F.asc("vid"))
    want_a = (df.withColumn("rnk", F.row_number().over(wa))
              .filter(F.col("rnk") <= 3))
    assert sorted(map(tuple, got_a.collect())) == sorted(map(tuple, want_a.collect()))


@pytest.mark.parametrize("name", [
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_resize", "multimodal_png_roundtrip",
    "multimodal_audio_features", "multimodal_video_features"])
def test_codec_query_shuffles_once_round_robin(spark, name):
    """Every scan→codec multimodal query stages ONE round-robin repartition
    before its codec mapInPandas passes: the local fixture is a single
    parquet file → a single input partition, which would serialize all codec
    CPU onto one core.  The exchange must be round-robin (no key, no skew)
    and the only one in the plan — the render and decode stages share it,
    with no shuffle between them."""
    plan = _plan(_build(spark, name))
    assert plan.count("Exchange") == 1, plan
    assert "RoundRobinPartitioning" in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert plan.count("FileScan") == 1
    # every codec stage sits ABOVE the single exchange (the simple-mode plan
    # prints the root first)
    assert plan.count("MapInPandas") == 2, plan
    assert plan.index("Exchange") > plan.rindex("MapInPandas"), plan


def test_cluster_representative_windows_share_one_exchange(spark):
    plan = _plan(_build(spark, "dedup_cluster_representative"))
    # rank and cluster-size windows both partition on component → one sort+
    # exchange serves both (plan shows two adjacent Window nodes over one Sort)
    import re

    assert re.search(r"Window .*\n\s*\+- Window", plan), plan[:400]


def test_source_gate_broadcasts_the_per_source_table(spark):
    plan = _plan(_build(spark, "source_quality_gate"))
    # per-source aggregate is tiny → must come back as a broadcast join; the
    # corpus side is scanned once and never shuffle-joined
    assert "BroadcastHashJoin" in plan
    for join_node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert join_node not in plan


def test_top_revenue_orders_is_take_ordered_not_global_sort(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heap top-k, driver merge) — never a full Sort over an Exchange."""
    plan = _plan(_build(spark, "top_revenue_orders"))
    assert "TakeOrderedAndProject" in plan


def test_scd2_intervals_tile_each_customer_timeline(spark):
    """Consecutive SCD2 rows must chain: every non-final valid_to equals the
    next row's valid_from, exactly one open interval (NULL valid_to) per
    customer, and no zero-length intervals."""
    from pyspark.sql import functions as F

    df = _build(spark, "scd2_priority_history").cache()
    try:
        assert df.filter(F.col("valid_to").isNull()) \
                 .groupBy("custkey").count().filter("count != 1").count() == 0
        from pyspark.sql import Window
        w = Window.partitionBy("custkey").orderBy("valid_from")
        chained = df.withColumn("nxt", F.lead("valid_from").over(w))
        assert chained.filter(
            F.col("valid_to").isNotNull()
            & ~F.col("valid_to").eqNullSafe(F.col("nxt"))).count() == 0
        assert df.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0
    finally:
        df.unpersist()


def test_exists_decorrelates_to_semi_join_with_pushed_year_filter(spark):
    plan = _plan(_build(spark, "exists_late_shipment_orders"))
    # the correlated EXISTS must become ONE semi join (no re-executed subquery,
    # no extra aggregate), and the year filter must reach the orders scan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), " in plan


def test_trailing_frame_is_range_not_rows(spark):
    plan = _plan(_build(spark, "trailing_revenue_range_frame"))
    assert "RangeFrame" in plan, \
        "trailing frame must be a value-RANGE frame, not ROWS"
    assert "RowFrame" not in plan.split("Window")[1].split("Sort")[0]


def test_gap_fill_spine_joins_are_broadcast(spark):
    plan = _plan(_build(spark, "daily_revenue_gap_filled"))
    # spine (calendar-bounded) x priorities (5) must come from broadcast of the
    # 1-row bounds and the tiny dim — never a shuffled cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_waiting_suppliers_is_one_group_stats_pass(spark):
    plan = _plan(_build(spark, "waiting_suppliers"))
    # the EXISTS + NOT EXISTS pair must NOT appear as two extra self-joins of
    # lineitem: exactly 2 lineitem scans (pairs + late branches) and no
    # cartesian / nested-loop fallback
    # lineitem x2 (pairs + late), orders x2, supplier x1 — never more
    assert plan.count("FileScan parquet") <= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_stay_equi_joins(spark):
    plan = _plan(_build(spark, "pagerank_trade_graph"))
    assert "CartesianProduct" not in plan
    # per-iteration rank~edge joins are equi joins; only the 1-row N rides in
    # via broadcast nested loop
    import re
    bnlj = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 6  # one per iteration + init, each against a 1-row agg


def test_runtime_bloom_filter_engages_for_selective_shuffle_joins(spark):
    """The 100 TB fact⋈filtered-dim path: when the dim side is too big to
    broadcast, Spark should inject a runtime bloom filter that semi-reduces
    the fact scan BEFORE the shuffle.  Locally every dim broadcasts (so the
    rule never fires in the default plans); this pins that the engine config
    leaves the rule available and firing once broadcast is off — the knob a
    cluster deployment relies on."""
    from pyspark.sql import functions as F

    from alertas_spark.sources.catalog import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF, "orders")
        cust = (load_table(spark, SF, "customer")
                .filter(F.col("c_mktsegment") == "BUILDING"))
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in plan or "bloomfilter" in plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_r16_trained_family_plans_have_no_cartesians(spark):
    """The r16 additions (KN trigram, LR gates, ULM, temperature mixing):
    zero cartesian products, and every BroadcastNestedLoopJoin is a 1-row
    scalar/model attach (the documented-correct shape) — pinned by also
    asserting the model-relation joins stay broadcast-hash."""
    for name in ("perplexity_kn_trigram", "lr_quality_score",
                 "lr_gate_select", "lr_nb_confusion_audit",
                 "ulm_token_count", "ulm_bpe_fertility",
                 "dataset_mix_temperature"):
        plan = _plan(_build(spark, name))
        assert "CartesianProduct" not in plan, name


def test_kn_count_table_joins_are_broadcast(spark):
    """The five KN type-table joins must broadcast (type tables are
    vocabulary-polynomial, never corpus-sized)."""
    plan = _plan(_build(spark, "perplexity_kn_trigram"))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_lr_scoring_is_scan_side_with_model_broadcast(spark):
    """LR scoring: the 1-row beta relation rides a broadcast; the held-out
    fold filter reaches the scan."""
    plan = _plan(_build(spark, "lr_quality_score"))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "PushedFilters" in plan or "Filter" in plan


def spark_jobs(spark, thunk, label: str = "probe") -> int:
    """Spark jobs ``thunk()`` runs, read from the StatusTracker under a job
    group of its own (the listener bus drained on both sides)."""
    import uuid

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"jobs-{uuid.uuid4().hex}"
    bus.waitUntilEmpty()
    sc.setJobGroup(group, label)
    try:
        thunk()
        bus.waitUntilEmpty()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _builder_jobs(spark, name: str) -> int:
    """Spark jobs a memo-cold builder call runs."""
    from alertas_spark.operators import memo

    memo.clear()
    try:
        return spark_jobs(spark, lambda: _build(spark, name), name)
    finally:
        memo.clear()


@pytest.mark.parametrize("name,jobs", [("kmeans_assign", 2),
                                       ("simsearch_topk_ivfpq_residual", 3),
                                       ("pq_encode_trained", 2)])
def test_trainer_builder_job_count(spark, name, jobs):
    """The trainer chain is job-count-bound, so its job count is pinned.
    Table reads run no job (``sources.parquet`` reads the schema from a
    footer on the driver): a cold ``kmeans_assign`` builder is the seed pull
    and ONE fused Lloyd job (``kmeans.lloyd_means``); the IVFADC builder is
    the head-row pull that seeds both codebooks and one fused job per Lloyd
    update; ``pq_encode_trained`` is the seed pull and its codebook's fused
    Lloyd job."""
    assert _builder_jobs(spark, name) <= jobs
