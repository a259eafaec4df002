"""Scale probe: measure how the heaviest operators scale with row count.

Builds a synthetic N× replica of the sf0.1 tables (shifted ids, per-replica text
mutation so dedup structure stays realistic instead of collapsing into N-sized
exact-dup cliques, jittered embeddings so ANN buckets stay populated), then times
headline operators COLD (trained-artifact memo cleared per run) at 1× and N× and
reports the time ratio.

Reading the ratios: ideal data-parallel scaling on a fixed 32-thread box is
≤ N× time for N× rows; meaningfully sublinear means fixed overhead dominates at
1×; superlinear flags a shuffle/candidate-set blowup worth investigating.  This
is a single-node row-count probe — cluster behavior adds network shuffle and is
addressed by the plan-shape arguments in README — but it catches quadratic
candidate generation and driver-side bottlenecks empirically, which plan
inspection alone cannot.

Usage: python tools/scale_probe.py [N] [query ...]   (default N=10)
Writes SCALING.md at the repo root when run with no explicit query list.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/tmp/scale_probe"

#: operators probed: the corpus's most expensive + one representative per family
QUERIES = [
    "events_tumbling_5min",        # windowed agg (events ×N)
    "events_sessionize",           # gaps-and-islands windows (events ×N)
    "dedup_exact",                 # hash aggregate (documents ×N)
    "dedup_minhash_lsh",           # LSH band self-join (documents ×N)
    "dedup_simhash",               # bit-signature banding + Hamming verify
    "dedup_cluster_representative",  # pairs + star contraction + window
    "dedup_components",            # large-star/small-star label propagation
    "dedup_embedding_cosine_blocked",  # LSH-bucketed cosine (embeddings ×N)
    "dedup_embedding_semantic",    # SemDeDup: trained cells + intra-cell pairs (r15)
    "multimodal_dhash_hamming_neardup",  # banded Hamming-near dHash + CC (r15)
    "dedup_jaccard_prefix_filter",  # AllPairs prefix-filtered exact join (r6)
    "dedup_fuzzy_editdist",        # q-gram count-filtered edit-distance join (r10)
    "dedup_substring_spans",       # ExactSubstr K-shingle group-by (r11)
    "dedup_substring_common",      # duplicated-window heavy hitters (r11)
    "split_leakage_safe",          # cluster-granular train/val/test (r11)
    "multimodal_audio_features",   # real WAV synth + stdlib decode (r11)
    "multimodal_video_features",   # real RIFF/AVI demux + frame stats (r12)
    "dedup_substring_scrub",       # keep-first span removal (r11)
    "source_quality_gate",         # scan-side text scoring + gate join
    "perplexity_unigram",          # quantized-ln unigram LM scoring (r11)
    "perplexity_bigram_backoff",   # held-out bigram LM + stupid backoff (r12)
    "bpe_train_merges",            # corpus word-freq agg + driver BPE loop (r12)
    "bpe_token_count",             # broadcast merges + Arrow apply over vocab (r12)
    "bpe_token_count_builtin",     # same contract, codegen replace chain (r12)
    "bpe_vocab_census",            # weighted subword census, vocab-sized apply (r12)
    "bpe_bytes_train_merges",      # byte-fallback BPE trainer, hex atoms (r14)
    "bpe_bytes_token_count",       # byte-BPE apply over full \S+ domain (r14)
    "pack_sequences_bpe_bytes",    # packing on byte-token counts (r14)
    "streaming_corpus_manifest",   # streamed capstone front half (r14)
    "multimodal_dhash_neardup",    # perceptual dHash dedup, real PNG decode (r14)
    "ccnet_perplexity_buckets",    # per-lang perplexity tercile cut (r14)
    "pack_sequences_bpe",          # packing on subword counts (r12)
    "decontaminate_embedding",     # broadcast eval set × corpus cosine sweep (r12)
    "dsir_select_topk",            # fixed-B hashed-LM importance ranking (r15)
    "dsir_sample_gumbel",          # Gumbel-top-k resampling, same LMs (r15)
    "nb_lang_classify",            # broadcast NB model, integer argmax (r15)
    "decontaminate_bloom",         # k·m-bounded bloom probe join (r15)
    "curriculum_pack",             # LM-ordered per-shard packing (r15)
    "streaming_classifier_gate",   # artifact NB model served on the stream (r15)
    "streaming_clean_corpus",      # gate + dedup + rollup under micro-batch (r12)
    "tfidf_top_terms",             # df join-back on term + window top-n
    "profile_columns",             # exact distinct + quantiles (two-pass)
    "profile_columns_approx",      # sketch profiling (documents ×N)
    "simsearch_topk_ivf_trained",  # Lloyd training + pruned top-k (embeddings ×N)
    "simsearch_topk_hamming",      # sign-bit binary tier, bit_count(xor) (r11)
    "simsearch_topk_pq",           # numpy ADC + two-phase top-k (r6 rewrite)
    "simsearch_topk_pq_reranked",  # ADC shortlist + exact re-rank
    "asof_join_salted",            # segmented carry-forward as-of join
    "pack_sequences",              # per-shard window cumsum packing
    "salted_skew_agg",             # two-stage salted aggregation (events ×N)
    "pipeline_clean_corpus_v2",    # composed multi-stage pipeline (documents ×N)
    "pipeline_corpus_to_batches",  # capstone gate→dedup→tokenize→pack (r12)
    "running_total_per_customer",  # per-key frame window (orders ×N)
    "cube_priority_segment",       # Expand multi-set aggregation (orders ×N)
    "merge_upsert_customers",      # co-partitioned full-outer MERGE (orders ×N)
    "scd2_priority_history",       # daily-grain change detection + LEAD (orders ×N)
    "dq_audit_orders",             # conditional-agg rules + FK left-anti (orders ×N)
    "embedding_quantize_int8",     # global min/max + scan projection (embeddings ×N)
    "bm25_top_terms",              # df/dl join-back + top-n (documents ×N)
    "daily_revenue_gap_filled",    # date spine × dim left join (orders ×N)
    "trimmed_mean_order_value",    # grouped-agg pandas UDAF, 10× Arrow groups
    "json_props_typed_extract",    # typed JSON parse + agg (events ×N)
    "waiting_suppliers",           # Q21 group-stats decorrelation (lineitem ×N)
    "full_outer_daily_status_revenue",  # full-outer of daily aggs (orders ×N)
    "customer_cohort_set_ops",     # INTERSECT/EXCEPT cohorts (orders ×N)
    "weighted_median_price_by_flag",  # agg + bounded window (lineitem ×N, r9)
    "event_type_entropy_per_user",  # two hash aggs (events ×N, r9)
    "streaming_tumbling_5min",     # full streaming machinery + state (events ×N)
    "streaming_sessionize",        # session-window state store (events ×N)
    "dataset_mix_unimax",          # integer waterfill over ≤|sources| rows (r16)
    "lr_calibration_curve",        # decile reliability over the LR scores (r16)
    "quality_rule_battery",        # Gopher/C4 rule battery, conditional agg (r17)
    "multimodal_clip_gate",        # CLIP alignment gate, 2 embedding joins (r17)
    "multimodal_clip_retention",   # per-source retention rollup (r17)
    "gate_marginal_rejection",     # 4-gate ensemble ablation agg (r17)
    "dataset_mix_doremi",          # MW reweighting over unigram losses (r17)
    "simsearch_topk_ivfpq_residual",  # IVFADC: coarse cells + residual PQ (r17)
    "simsearch_topk_ivfpq_rerank",    # IVFADC+R: exact-cosine shortlist (r17)
    "wordpiece_train_vocab",          # likelihood-merge trainer (r17)
    "wordpiece_token_count",          # greedy longest-match apply (r17)
    "pack_sequences_wordpiece",       # packing on wordpiece counts (r17)
    "decontaminate_minkprob",         # Min-K% membership inference (r17)
    "wordpiece_vocab_census",         # greedy piece census (r17)
    "streaming_rule_gate",            # rule battery under micro-batch (r17)
    "decontaminate_panel",            # 5-axis leakage panel, stitched (r18)
    "decontaminate_panel_marginal",   # per-axis ablation over the panel (r18)
    "streaming_clip_gate",            # CLIP gate under micro-batch (r18)
    "simsearch_topk_int8",            # SQ8 integer full-scan ANN tier (r18)
    "heavyhitters_countmin",          # count-min sketch top-K audit (r18)
    "pack_concat_chunk_spans",        # token-level concat-chunk manifest (r18)
    "pipeline_train_ready",           # capstone: ensemble ∧ panel ∧ dedup (r18)
    "streaming_countmin_topk",        # CMS maintained on the stream (r18)
]

#: trade-graph probe: pagerank needs the EDGE SET to grow, which the main
#: replica cannot deliver (it keeps custkey/suppkey FK-valid against shared
#: dims, so replicated order-lineitem pairs mostly repeat existing
#: customer–supplier edges).  This replica shifts o_custkey and l_suppkey per
#: replica as well — N disjoint copies of the trade graph: edges and nodes
#: both exactly N×, the honest input growth for an iterative graph algorithm.
GRAPH_QUERIES = ["pagerank_trade_graph"]

#: streaming state-path probe: events-only replica at a deeper factor — the
#: state store's key/watermark behavior is what a 100 TB stream stresses, and
#: events is the only table those plans read
STREAM_N = 100
STREAM_QUERIES = ["streaming_tumbling_5min", "streaming_user_totals",
                  "streaming_dedup_within_watermark"]

#: alert-warehouse probe: the MPRJ fixture entity chain documento ←
#: assunto/personagem ← vista ← andamento ← sub_andamento ←
#: item_movimentacao/movimentacao replicated with CONSISTENTLY shifted
#: surrogate keys per replica (dims shared), so every per-document join fans
#: out N× realistically.  Probed alerts: PRCR (deepest legal-logic
#: pipeline), BDPA (widest fan: documento→vista→andamento→sub_andamento +
#: the item_movimentacao→movimentacao guia chain — r10 verdict task #6),
#: MVVD (exploded disjunctive identity join).  Person identities
#: (mcpr_pessoa_fisica and pers_pess_dk) are deliberately SHARED across
#: replicas — CPF/RG/name facet strings cannot be shifted consistently — so
#: MVVD's replica is a hot-identity caseload: the same victims appear in N×
#: documents and its OUTPUT grows ~N², the rows column to read its time
#: ratio against (like the near-dup pair operators).
ALERT_SHIFT_COLS = {
    "mcpr_documento": ("docu_dk",),
    "mcpr_assunto_documento": ("asdo_docu_dk",),
    "mcpr_personagem": ("pers_docu_dk",),
    "mcpr_vista": ("vist_dk", "vist_docu_dk"),
    "mcpr_andamento": ("pcao_dk", "pcao_vist_dk"),
    "mcpr_sub_andamento": ("stao_dk", "stao_pcao_dk"),
    "mcpr_item_movimentacao": ("item_docu_dk", "item_movi_dk"),
    "mcpr_movimentacao": ("movi_dk",),
}
_ALERT_OFF = 10_000_000
ALERT_PROBES = ("PRCR", "BDPA", "MVVD")


def build_replica(n: int) -> str:
    out = os.path.join(WORK, f"sf{n}x")
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT event_id + i * 10000000 AS event_id, ts, user_id,
                     event_type, value, props
              FROM read_parquet('{SRC}/events.parquet'), range({n}) t(i))
        TO '{out}/events.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT doc_id + i * 1000000 AS doc_id,
                     CASE WHEN i = 0 THEN text
                          ELSE text || ' r' || i || '-' || doc_id END AS text,
                     lang, source,
                     CAST(length(CASE WHEN i = 0 THEN text
                          ELSE text || ' r' || i || '-' || doc_id END) AS BIGINT)
                         AS n_chars
              FROM read_parquet('{SRC}/documents.parquet'), range({n}) t(i))
        TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT vec_id + i * 1000000 AS vec_id,
                     list_transform(embedding,
                         x -> (x + i * 0.0001)::FLOAT) AS embedding,
                     label
              FROM read_parquet('{SRC}/embeddings.parquet'), range({n}) t(i))
        TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT o_orderkey + i * 100000000 AS o_orderkey, o_custkey,
                     o_orderstatus, o_totalprice,
                     o_orderdate + to_days(CAST(i AS INTEGER)) AS o_orderdate,
                     o_orderpriority
              FROM read_parquet('{SRC}/orders.parquet'), range({n}) t(i))
        TO '{out}/orders.parquet' (FORMAT PARQUET)""")
    # orders keeps o_custkey: every customer's history grows n× (deeper window
    # frames / bigger per-key groups), the realistic time-axis growth shape
    con.execute(f"""
        COPY (SELECT l_orderkey + i * 100000000 AS l_orderkey, l_partkey,
                     l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                     l_discount, l_tax, l_returnflag, l_linestatus,
                     l_shipdate + to_days(CAST(i AS INTEGER)) AS l_shipdate
              FROM read_parquet('{SRC}/lineitem.parquet'), range({n}) t(i))
        TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")
    # lineitem's orderkey shift MATCHES orders' (and l_shipdate shifts with
    # o_orderdate), so order⋈lineitem fan-out genuinely grows n× — the r7
    # replica symlinked lineitem, leaving replicated orders childless and any
    # order-line query's probe reading fixed overhead; suppkey/partkey stay
    # unshifted so dim FKs remain valid against the shared dims
    for t in ("region", "nation", "customer", "supplier", "part"):
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def build_graph_replica(n: int) -> str:
    """orders+lineitem with consistently shifted orderkeys AND per-replica
    custkey/suppkey shifts — n disjoint copies of the customer↔supplier trade
    graph (see GRAPH_QUERIES note)."""
    out = os.path.join(WORK, f"graph{n}x")
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT o_orderkey + i * 100000000 AS o_orderkey,
                     o_custkey + i * 10000000 AS o_custkey,
                     o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
              FROM read_parquet('{SRC}/orders.parquet'), range({n}) t(i))
        TO '{out}/orders.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT l_orderkey + i * 100000000 AS l_orderkey, l_partkey,
                     l_suppkey + i * 10000000 AS l_suppkey, l_linenumber,
                     l_quantity, l_extendedprice, l_discount, l_tax,
                     l_returnflag, l_linestatus, l_shipdate
              FROM read_parquet('{SRC}/lineitem.parquet'), range({n}) t(i))
        TO '{out}/lineitem.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def build_events_replica(n: int) -> str:
    """Events at n×, every other table symlinked — the streaming plans read
    only events, so a deep state-path probe needn't copy the rest."""
    out = os.path.join(WORK, f"events{n}x")
    if os.path.isdir(out):
        return out
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"""
        COPY (SELECT event_id + i * 100000000 AS event_id, ts, user_id,
                     event_type, value, props
              FROM read_parquet('{SRC}/events.parquet'), range({n}) t(i))
        TO '{out}/events.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        os.symlink(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def build_alert_replica(n: int) -> str:
    """MPRJ fixture warehouse with the document entity chain replicated n×
    (ALERT_SHIFT_COLS keys shifted consistently; dims symlinked)."""
    from alertas_spark.plans.alert_corpus import FIXTURE_DIR
    from alertas_spark.testing.fixtures import ensure_fixtures

    ensure_fixtures(FIXTURE_DIR)
    out = os.path.join(WORK, f"mprj{n}x")
    if os.path.isdir(out):
        return out
    os.makedirs(os.path.join(out, "alertas"))
    con = duckdb.connect()
    for schema in os.listdir(FIXTURE_DIR):
        sdir = os.path.join(FIXTURE_DIR, schema)
        if not os.path.isdir(sdir):
            continue
        os.makedirs(os.path.join(out, schema), exist_ok=True)
        for fname in os.listdir(sdir):
            table = fname.removesuffix(".parquet")
            src_f, dst_f = os.path.join(sdir, fname), os.path.join(out, schema, fname)
            shift = ALERT_SHIFT_COLS.get(table)
            if not shift:
                os.symlink(src_f, dst_f)
                continue
            cols = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src_f}')").fetchall()]
            sel = ", ".join(
                f"{c} + i * {_ALERT_OFF} AS {c}" if c in shift else c for c in cols)
            con.execute(f"""
                COPY (SELECT {sel} FROM read_parquet('{src_f}'), range({n}) t(i))
                TO '{dst_f}' (FORMAT PARQUET)""")
    return out


def timed_alert(spark, warehouse: str, sigla: str) -> tuple[float, int]:
    """(seconds, output rows) for one cold run of an alert builder over
    ``warehouse`` (fresh context: the cached base views and the in-builder
    tempo cache are rebuilt).  Like :func:`timed`, the timing forces the full
    plan through the noop sink; the rows are counted in a separate untimed
    action."""
    from alertas_spark.framework.context import AlertContext
    from alertas_spark.framework.engine import registry
    from alertas_spark.testing.fixtures import AS_OF

    spark.catalog.clearCache()
    ctx = AlertContext(spark=spark, warehouse=warehouse, as_of=AS_OF)
    t0 = time.time()
    df = registry()[sigla].builder(ctx)
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 2)
    n = df.count()
    spark.catalog.clearCache()
    return dt, n


#: (builder, sf_dir) → output rows, counted once per pair (untimed; rerunning
#: the heavy pair queries just for cardinality would double probe wall-clock)
_ROWS_CACHE: dict = {}


def timed(spark, builder, sf_dir: str) -> tuple[float, int]:
    """(seconds, output rows) for one cold run.  Timing FORCES the full plan
    through the noop sink — ``.count()`` would let Catalyst prune unreferenced
    projections (a row_number window vanished entirely: 0.12 s flat for
    running_total_per_customer at both scales before this fix).  Row counts are
    taken in a separate untimed action (pruning is fine for cardinality) and
    let the report distinguish output-bound growth (near-dup PAIR operators
    emit quadratically more pairs when the data genuinely contains bigger dup
    cliques — runtime tracking output is optimal) from an actual plan blowup."""
    from alertas_spark.operators import memo

    memo.clear()  # cold: include training/artifact cost every run
    t0 = time.time()
    builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 2)
    key = (builder, sf_dir)
    if key not in _ROWS_CACHE:
        _ROWS_CACHE[key] = builder(spark, sf_dir).count()  # memo left warm
    return dt, _ROWS_CACHE[key]


def timed_alert_batch(spark, inputs_dir: str) -> tuple[float, dict[str, float]]:
    """One cold full-batch run — every ACTIVE alert computed, staged and
    published through the engine (the reference's nightly generateAlertas
    unit of work, including the shared documentos_ativos base views and the
    S7-S11 publication sinks) — over a fresh temp warehouse whose input
    schemas link to ``inputs_dir`` (perfbench's ``fixture_warehouse``).
    Returns (total_seconds, per-phase timings)."""
    import shutil
    import tempfile

    from perfbench.workloads import fixture_warehouse

    from alertas_spark.framework import engine
    from alertas_spark.framework.context import AlertContext
    from alertas_spark.testing.fixtures import AS_OF

    wh = tempfile.mkdtemp(prefix="probe_wh_")
    try:
        fixture_warehouse(inputs_dir, wh)
        spark.catalog.clearCache()
        ctx = AlertContext(spark=spark, warehouse=wh, as_of=AS_OF)
        t0 = time.time()
        phases = engine.run_all(ctx, quiet=True)
        total = round(time.time() - t0, 2)
        return total, phases
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(wh, ignore_errors=True)


def alert_batch_probe(n: int) -> int:
    """The full-caseload scale question: the nightly 20-alert batch at 1x vs
    the n x entity-chain replica, min of 2 cold passes each, with the
    per-phase breakdown printed for both so growth attributes to named
    alerts (shared base-view cost lands in the first alert that builds it)."""
    from alertas_spark.plans.alert_corpus import FIXTURE_DIR
    from alertas_spark.session import get_spark
    from alertas_spark.testing.fixtures import ensure_fixtures

    ensure_fixtures(FIXTURE_DIR)
    spark = get_spark("scale-probe-batch")
    spark.range(1000).selectExpr("sum(id)").collect()
    big = build_alert_replica(n)
    results = {}
    for label, src in (("1x", FIXTURE_DIR), (f"{n}x", big)):
        best_total, best_phases = None, None
        for _ in range(2):
            total, phases = timed_alert_batch(spark, src)
            if best_total is None or total < best_total:
                best_total, best_phases = total, phases
        results[label] = (best_total, best_phases)
        print(f"alert_batch {label}: {best_total:.2f}s")
        for phase, secs in sorted(best_phases.items(), key=lambda kv: -kv[1]):
            print(f"  {phase:28s} {secs:7.2f}s")
    t1, tn = results["1x"][0], results[f"{n}x"][0]
    print(f"alert_batch ratio: {round(tn / t1, 2)} ({t1:.2f}s -> {tn:.2f}s at {n}x)")
    return 0


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]
    if only == ["alert_batch"]:
        return alert_batch_probe(n)
    from alertas_spark.registry import load_all
    from alertas_spark.session import get_spark

    shutil.rmtree(WORK, ignore_errors=True)
    big = build_replica(n)
    spark = get_spark("scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()
    reg = load_all()

    rows = []
    for name in (only or QUERIES):
        b = reg[name].builder
        t1, r1 = min(timed(spark, b, SRC) for _ in range(2))
        tn, rn = min(timed(spark, b, big) for _ in range(2))
        tr = round(tn / t1, 2) if t1 > 0 else float("inf")
        rr = round(rn / r1, 2) if r1 > 0 else float("inf")
        rows.append((name, t1, tn, tr, r1, rn, rr))
        print(f"{name:34s} 1x={t1:6.2f}s  {n}x={tn:6.2f}s  time_ratio={tr:6.2f}  "
              f"rows {r1}->{rn} (x{rr})")

    stream_rows, alert_rows, graph_rows = [], [], []
    if not only:
        graph_big = build_graph_replica(n)
        for name in GRAPH_QUERIES:
            b = reg[name].builder
            t1, r1 = min(timed(spark, b, SRC) for _ in range(2))
            tn, rn = min(timed(spark, b, graph_big) for _ in range(2))
            tr = round(tn / t1, 2) if t1 > 0 else float("inf")
            rr = round(rn / r1, 2) if r1 > 0 else float("inf")
            graph_rows.append((name, t1, tn, tr, r1, rn, rr))
            print(f"{name:34s} 1x={t1:6.2f}s  {n}x={tn:6.2f}s  "
                  f"time_ratio={tr:6.2f}  rows {r1}->{rn} (x{rr})")

        deep = build_events_replica(STREAM_N)
        for name in STREAM_QUERIES:
            b = reg[name].builder
            t1, r1 = min(timed(spark, b, SRC) for _ in range(2))
            tn, rn = min(timed(spark, b, deep) for _ in range(2))
            tr = round(tn / t1, 2) if t1 > 0 else float("inf")
            rr = round(rn / r1, 2) if r1 > 0 else float("inf")
            stream_rows.append((name, t1, tn, tr, r1, rn, rr))
            print(f"{name:34s} 1x={t1:6.2f}s  {STREAM_N}x={tn:6.2f}s  "
                  f"time_ratio={tr:6.2f}  rows {r1}->{rn} (x{rr})")

        from alertas_spark.plans.alert_corpus import FIXTURE_DIR
        alert_big = build_alert_replica(n)
        for sigla in ALERT_PROBES:
            t1, r1 = min(timed_alert(spark, FIXTURE_DIR, sigla) for _ in range(2))
            tn, rn = min(timed_alert(spark, alert_big, sigla) for _ in range(2))
            tr = round(tn / t1, 2) if t1 > 0 else float("inf")
            rr = round(rn / r1, 2) if r1 > 0 else float("inf")
            label = f"alerta_{sigla.lower()}"
            alert_rows.append((label, t1, tn, tr, r1, rn, rr))
            print(f"{label:34s} 1x={t1:6.2f}s  {n}x={tn:6.2f}s  "
                  f"time_ratio={tr:6.2f}  rows {r1}->{rn} (x{rr})")

    if not only:
        with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
            f.write(
                f"# Row-count scaling probe ({n}x, local[32])\n\n"
                f"Synthetic {n}x replica of sf0.1 (shifted ids, mutated replica "
                "text, jittered embeddings — see tools/scale_probe.py). Cold "
                "runs (trained-artifact memo cleared), min of 2. Ideal "
                f"data-parallel scaling on a fixed box is <= {n}.0x time for "
                f"{n}x input. Near-dup PAIR operators are the exception to read "
                "against the rows column: the replica design makes every "
                f"document/vector a {n}-clique of near-dups, so their pair "
                "OUTPUT grows quadratically by construction — runtime tracking "
                "output rows is the optimal behavior there, not a blowup "
                "(candidate generation stays banded/bucketed; no all-pairs "
                "scan exists in any plan).\n\n"
                "`dedup_jaccard_prefix_filter` is the EXACT tier: rarity-first "
                "(document-frequency-ascending) prefixes plus the PPJoin "
                "positional filter keep its candidate set output-bound even "
                "on this all-cliques replica (r6's hash-ascending variant put "
                "common tokens in prefixes — 676x candidate overkill and a "
                "per-token-frequency-quadratic join, 199s at 10x; the r7 "
                "rewrite measures ~6s).\n\n"
                "Since r8 lineitem is replicated with orderkeys shifted "
                "consistently with orders (and l_shipdate moving with "
                "o_orderdate), so order-line join fan-out genuinely grows "
                f"{n}x; suppkey/partkey stay FK-valid against the shared "
                "dims.  `pagerank_trade_graph` is probed separately on a "
                "dedicated trade-graph replica (below) where custkey/suppkey "
                "also shift per replica, growing the EDGE SET itself "
                f"{n}x.\n\n"
                "`profile_columns_approx` rows are measured at the SHIPPED "
                "sketch accuracy (operators/profiling.py APPROX_ACC = 2e5, "
                "retuned r9 — the r7 1e6 setting was buffer-everything at "
                "this scale); the 100x deep probe at the same accuracy is in "
                "the hand-measured notes appended below.  "
                "`dedup_fuzzy_editdist` reads this replica as a cliqued "
                "corpus: replica text mutations append AFTER the 32-char "
                "comparison window, so every signature becomes a "
                f"{n}-member exact-dup clique — its candidate/gram machinery "
                "runs at 1x unit cardinality BY DESIGN (the exact-dup "
                "collapse in operators/fuzzy.py) and its output grows "
                "~quadratically with the clique width, which is what the "
                "rows column shows.\n\n"
                f"| query | 1x sec | {n}x sec | time ratio | 1x rows | {n}x rows "
                "| rows ratio |\n|---|---|---|---|---|---|---|\n")
            for name, t1, tn, tr, r1, rn, rr in rows:
                f.write(f"| {name} | {t1} | {tn} | {tr} | {r1} | {rn} | {rr} |\n")
            f.write(
                f"\n## Trade graph ({n}x disjoint-subgraph replica)\n\n"
                "orders+lineitem with consistently shifted orderkeys AND "
                "per-replica custkey/suppkey shifts — the customer↔supplier "
                f"edge set and node set both grow exactly {n}x (n disjoint "
                "subgraphs), the honest input growth for fixed-point graph "
                "iteration (the r7 probe could not grow edges at all).\n\n"
                f"| query | 1x sec | {n}x sec | time ratio | 1x rows | {n}x rows "
                "| rows ratio |\n|---|---|---|---|---|---|---|\n")
            for name, t1, tn, tr, r1, rn, rr in graph_rows:
                f.write(f"| {name} | {t1} | {tn} | {tr} | {r1} | {rn} | {rr} |\n")
            f.write(
                f"\n## Streaming state path ({STREAM_N}x events-only replica)\n\n"
                "The stateful queries' cost is dominated by fixed micro-batch + "
                "state-store machinery at 1x; the deep replica measures how the "
                "state path itself grows with keys × rows.\n\n"
                f"| query | 1x sec | {STREAM_N}x sec | time ratio | 1x rows | "
                f"{STREAM_N}x rows | rows ratio |\n|---|---|---|---|---|---|---|\n")
            for name, t1, tn, tr, r1, rn, rr in stream_rows:
                f.write(f"| {name} | {t1} | {tn} | {tr} | {r1} | {rn} | {rr} |\n")
            f.write(
                f"\n## Alert warehouse ({n}x entity-chain replica)\n\n"
                "MPRJ fixture documento ← assunto/personagem ← vista ← andamento "
                "← sub_andamento ← item_movimentacao/movimentacao replicated with "
                "consistently shifted surrogate keys (dims shared); cold "
                "fresh-context runs including the detail-table write — the "
                "nightly per-alert cost at n× caseload.  PRCR = deepest "
                "legal-logic pipeline; BDPA = widest join fan (adds the "
                "guia/movimentacao chain); MVVD = exploded disjunctive identity "
                "join — its person identities are SHARED across replicas (CPF/"
                "name facet strings cannot shift), so the same victims appear "
                f"in {n}x documents and MVVD's OUTPUT grows ~{n}²x by "
                "construction: read its time against the rows column, like the "
                "near-dup pair operators.\n\n"
                f"| query | 1x sec | {n}x sec | time ratio | 1x rows | {n}x rows "
                "| rows ratio |\n|---|---|---|---|---|---|---|\n")
            for name, t1, tn, tr, r1, rn, rr in alert_rows:
                f.write(f"| {name} | {t1} | {tn} | {tr} | {r1} | {rn} | {rr} |\n")
            # hand-measured deep-dive sections (100x probes, postmortems,
            # state decompositions) live in tools/scaling_notes.md so a table
            # regeneration can never silently drop recorded evidence
            notes = os.path.join(ROOT, "tools", "scaling_notes.md")
            if os.path.isfile(notes):
                with open(notes) as nf:
                    f.write("\n" + nf.read())
        print(f"wrote {os.path.join(ROOT, 'SCALING.md')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
