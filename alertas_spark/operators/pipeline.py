"""Capstone composition: the training-corpus cleaning pipeline as ONE dataflow.

quality gate → exact dedup (keep lowest doc_id per content hash) → near-dup removal
(MinHash-LSH pairs; drop the higher id of each verified pair) → surviving docs with
token counts.  Each stage is an operator verified on its own elsewhere; this query
pins their composition, Spark vs a DuckDB re-derivation, end to end.

Scale shape: the quality gate and content hash are narrow per-row ops on the scan;
exact dedup is one hash aggregate; the only heavy shuffle is the LSH band self-join,
which the pipeline reuses unchanged from ``dedup_minhash_lsh`` (restricting
full-corpus pairs to survivors equals running LSH on the survivors — banding is
per-row, so the candidate set only shrinks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.operators.dedup import dedup_minhash_lsh
from alertas_spark.operators.memo import session_value
from alertas_spark.operators.textops import (WS_RE, norm_text, text_quality,
                                             words)
from alertas_spark.registry import REGISTRY, declare
from alertas_spark.sources.catalog import load_table

_QUALITY_ORACLE = None  # filled from the registry at declare time


def _oracle() -> str:
    quality = REGISTRY["text_quality"].oracle
    pairs = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
    WITH quality AS ({quality}),
    passing AS (
        SELECT q.doc_id, q.n_tokens, md5(d.text) AS h
        FROM quality q JOIN documents d ON q.doc_id = d.doc_id
        WHERE q.quality_ok = 1
    ),
    exact_kept AS (
        SELECT MIN(doc_id) AS doc_id FROM passing GROUP BY h
    ),
    pairs AS ({pairs}),
    near_dropped AS (
        SELECT p.doc_b AS doc_id
        FROM pairs p
        JOIN exact_kept a ON p.doc_a = a.doc_id
        JOIN exact_kept b ON p.doc_b = b.doc_id
    )
    SELECT k.doc_id, q.n_tokens
    FROM exact_kept k
    JOIN quality q ON q.doc_id = k.doc_id
    WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dropped)
    """


@declare("pipeline_clean_corpus", oracle=_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup → near-dedup the documents table; returns the
    surviving (doc_id, n_tokens)."""
    from alertas_spark.operators.memo import overlap

    # the quality gate scan and the LSH pair artifact are INDEPENDENT passes
    # that meet only at the final stitch — materialize them concurrently
    # (memo.overlap, guide §2.6).  The quality relation is checkpointed thin
    # because it feeds both the exact-dedup hash agg and the final join
    # (Catalyst does not dedupe identical subtrees); the pair set stays the
    # session artifact shared with any other composition in the session —
    # the standalone dedup_minhash_lsh query keeps its full plan, only
    # compositions consume the materialized pairs.
    quality, pairs = overlap(spark, [
        lambda: (text_quality(spark, sf_dir).filter("quality_ok = 1")
                 .select("doc_id", "n_tokens").localCheckpoint()),
        lambda: session_value(
            spark, ("minhash_verified_pairs", sf_dir),
            lambda: dedup_minhash_lsh(spark, sf_dir).localCheckpoint()),
    ], max_workers=2)
    hashes = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h"))
    # checkpointed: consumed three times below (two pair-side joins + the
    # left-anti keeper filter)
    exact_kept = (quality.join(hashes, "doc_id")
                  .groupBy("h").agg(F.min("doc_id").alias("doc_id"))
                  .select("doc_id").localCheckpoint())
    both_kept = (
        pairs.join(exact_kept.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(exact_kept.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
    )
    return (
        exact_kept.join(both_kept, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .select("doc_id", "n_tokens")
    )


def _oracle_v2() -> str:
    gate = REGISTRY["source_quality_gate"].oracle
    reps = REGISTRY["dedup_cluster_representative"].oracle
    return f"""
    WITH gate AS ({gate}),
    reps AS ({reps})
    SELECT g.doc_id, g.source, r.cluster_size
    FROM gate g
    JOIN reps r ON r.rep_doc_id = g.doc_id
    """


@declare("pipeline_clean_corpus_v2", oracle=_oracle_v2())
def pipeline_clean_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 cleaning pipeline: CCNet-style *origin* gating ∩ graph-based
    near-dup *canonicalization* — a document survives only if (a) it passes the
    doc-level quality flag, (b) its whole source's pass rate clears the
    threshold, and (c) it is its near-dup cluster's elected representative
    (every cluster contributes exactly one copy, so the output is near-dup-free
    by construction rather than by pairwise dropping).

    Each stage is an independently-oracled operator (``source_quality_gate``,
    ``dedup_cluster_representative``); this query pins their composition.  The
    final intersection is one join on ``doc_id`` between two already-thin
    relations — at scale both sides are small fractions of the corpus, and the
    corpus itself is scanned twice total (once per stage)."""
    from alertas_spark.operators.dedup import dedup_cluster_representative
    from alertas_spark.operators.textops import source_quality_gate

    from alertas_spark.operators.memo import overlap

    # cluster election = MinHash pairs + iterative star contraction — the most
    # expensive repeated subcomputation in the corpus; one per-dataset artifact
    # (one row per near-dup cluster) serves every composition in the session.
    # The origin-gate scan is independent of it — materialize both
    # concurrently (memo.overlap, guide §2.6).
    gated, reps0 = overlap(spark, [
        lambda: (source_quality_gate(spark, sf_dir)
                 .select("doc_id", "source").localCheckpoint()),
        lambda: session_value(
            spark, ("cluster_representatives", sf_dir),
            lambda: dedup_cluster_representative(spark, sf_dir)
            .localCheckpoint()),
    ], max_workers=2)
    reps = reps0.select(F.col("rep_doc_id").alias("doc_id"), "cluster_size")
    return gated.join(reps, "doc_id").select("doc_id", "source", "cluster_size")


def _oracle_v3() -> str:
    from alertas_spark.operators.bpe import _apply_ctes, _train_ctes
    from alertas_spark.operators.packing import PACK_BUDGET
    from alertas_spark.operators.textops import QUALITY_GATE_SQL

    return f"""
    WITH {_train_ctes()},
    {_apply_ctes()},
    dt AS MATERIALIZED (
        SELECT docw.doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
        FROM docw JOIN tokc USING (word) GROUP BY docw.doc_id),
    gated AS (
        SELECT doc_id, source,
               regexp_replace(trim(lower(text)), '{WS_RE}', ' ', 'g') AS norm
        FROM documents
        WHERE {QUALITY_GATE_SQL}
    ), kept AS (
        SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY norm
    ), ds AS (
        SELECT g.doc_id, g.source, dt.n_tokens
        FROM gated g JOIN kept USING (doc_id) JOIN dt USING (doc_id)
    )
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM ds
    """


@declare("pipeline_corpus_to_batches", oracle=_oracle_v3())
def pipeline_corpus_to_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-to-TRAINING-BATCHES capstone — the r12 tiers composed into
    the dataflow a pre-training dataloader actually consumes: quality gate
    (text_quality's pass rule) → exact dedup, keep-FIRST (lowest doc_id per
    normalized text — deterministic winner, unlike a racy first-seen) →
    subword token counts under the TRAINED BPE merge table → per-source
    sequence packing on those counts.  Output is the training-batch
    manifest: (doc_id, source, n_tokens, pack_id).

    Each stage is an independently-verified operator
    (streaming_clean_corpus's gate, dedup_exact's identity,
    bpe_token_count's apply, pack_sequences_bpe's budget window); this query
    pins their COMPOSITION cross-engine.  Scale shape: gate + normalize are
    scan-side; keep-first is one hash agg (min per content group — the
    substring-scrub lesson: never a rank window over a mega-group); the
    tokenizer runs once per distinct word (artifact-served merges); the one
    ordered stage is the per-source packing window, sharded by construction."""
    from alertas_spark.operators.bpe import _doc_token_counts, ntok_udf
    from alertas_spark.operators.memo import overlap
    from alertas_spark.operators.packing import pack_ids
    from alertas_spark.operators.textops import quality_gate_cond

    docs = load_table(spark, sf_dir, "documents")
    norm = norm_text()
    gated = (docs
             .filter(quality_gate_cond())
             .select("doc_id", "source", F.md5(norm).alias("h")))
    kept = gated.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    # the gate+dedup side and the tokenizer side are independent until the
    # final join — the gate scan materializes WHILE the BPE trainer's driver
    # loop steps (memo.overlap, guide §2.6; ntok_udf builds inside its thunk
    # so the artifact work lands on the pool thread)
    gk, per_doc = overlap(spark, [
        lambda: (gated.join(kept.select("doc_id"), "doc_id")
                 .select("doc_id", "source").localCheckpoint()),
        lambda: (_doc_token_counts(spark, sf_dir, ntok_udf(spark, sf_dir))
                 .select("doc_id", "n_tokens").localCheckpoint()),
    ], max_workers=2)
    return pack_ids(gk.join(per_doc, "doc_id")
                    .select("doc_id", "source", "n_tokens"))


# ---------------------------------------------------------------------------
# r15 capstone: DSIR selection → bloom decontamination → budget packing
# ---------------------------------------------------------------------------

def _oracle_dsir_curated() -> str:
    """The three r15 stage oracles stitched (their CTE namespaces are
    disjoint by construction: dsir uses tok/fb/ct/cr/tot/scored, bloom uses
    tokd/grams/bench/benchd/filt/probes/hits)."""
    from alertas_spark.operators.bloom import _BLOOM_HITS_CTES
    from alertas_spark.operators.dsir import _DSIR_SCORED_CTES, DSIR_K
    from alertas_spark.operators.packing import PACK_BUDGET

    return f"""
    WITH {_DSIR_SCORED_CTES},
    {_BLOOM_HITS_CTES},
    sel AS (
        SELECT doc_id, source, n_tokens, avg_logratio_nats,
               ROW_NUMBER() OVER (ORDER BY avg_logratio_nats DESC, doc_id)
                   AS sel_rank
        FROM scored
    ),
    clean AS (
        SELECT s.* FROM sel s
        WHERE s.sel_rank <= {DSIR_K}
          AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = s.doc_id)
    )
    SELECT doc_id, source, n_tokens, avg_logratio_nats,
           CAST(ROW_NUMBER() OVER o AS INTEGER) AS cur_rank,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY avg_logratio_nats DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM clean
    WINDOW o AS (ORDER BY avg_logratio_nats DESC, doc_id)
    """


@declare("pipeline_dsir_curated", oracle=_oracle_dsir_curated())
def pipeline_dsir_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r15 curation tiers composed into ONE dataflow: DSIR top-K
    target-like selection from the raw pool → drop documents the benchmark
    bloom filter flags (anti-join against the ≤k·m-bounded filter hits) →
    pack the surviving curated set most-target-like-first under the token
    budget.  Each stage is oracle-verified on its own
    (``dsir_select_topk`` / ``decontaminate_bloom`` / ``pack_sequences``);
    this query pins their COMPOSITION end to end.

    Scale shape: the stages' own shapes compose — hashed-LM broadcast
    scoring, two-phase-able top-K, bloom broadcast anti-join — and the final
    rank/cumsum window runs over the ALREADY-SELECTED ≤K-row relation
    (single partition is the point, not a leak: K is a curation constant,
    never corpus-sized; a multi-shard variant would window per source like
    ``curriculum_pack``)."""
    from alertas_spark.operators.bloom import _bloom_hits
    from alertas_spark.operators.dsir import DSIR_K, _dsir_scores
    from alertas_spark.operators.packing import PACK_BUDGET
    from alertas_spark.operators.topk import ranked_topk
    from pyspark.sql import Window as W

    from alertas_spark.operators.memo import overlap

    sel_w = W.orderBy(F.col("avg_logratio_nats").desc(), "doc_id")
    # the K cut over the corpus-sized score relation rides the two-phase
    # top-k (r15 advice) — only the ≤K-row downstream windows stay global.
    # The DSIR selection (hashed-LM artifact + score scan) and the bloom
    # flag set (tokenize + probe join) are INDEPENDENT full-corpus passes
    # that only meet at the anti-join — materialize them concurrently
    # (memo.overlap, guide §2.6; the _ensemble_df pattern).
    sel, flagged = overlap(spark, [
        lambda: (ranked_topk(
                     _dsir_scores(spark, sf_dir).withColumn("grp", F.lit(0)),
                     "grp", "avg_logratio_nats", "doc_id", DSIR_K,
                     ascending=False, rank_col="sel_rank")
                 .drop("grp").localCheckpoint()),
        lambda: (_bloom_hits(spark, sf_dir).select("doc_id").distinct()
                 .localCheckpoint()),
    ], max_workers=2)
    clean = sel.join(F.broadcast(flagged), "doc_id", "left_anti")
    cum = F.sum("n_tokens").over(sel_w.rowsBetween(W.unboundedPreceding, -1))
    return clean.select(
        "doc_id", "source", "n_tokens", "avg_logratio_nats",
        F.row_number().over(sel_w).cast("int").alias("cur_rank"),
        F.floor(F.coalesce(cum, F.lit(0)) / PACK_BUDGET)
        .cast("int").alias("pack_id"))


# ---------------------------------------------------------------------------
# r16 capstone: classifier gate ∧ perplexity-bucket gate in one dataflow
# ---------------------------------------------------------------------------

def _qe_ctes() -> str:
    """The four-gate ensemble relation as CTEs ending in ``qe(doc_id, lang,
    y, lr_prob, cross_entropy_nats, ppl_bucket, gate_lr, gate_ppl,
    gate_rules, gate_clip, keep)`` — LR retrain + unigram scorer + rule
    battery + CLIP pairs stitched (namespaces disjoint by construction:
    lr_* vs tok/d/ct/g/scored vs rb_* vs cg_*)."""
    from alertas_spark.operators.clipgate import CLIP_PAIRS_CTES, CLIP_TAU
    from alertas_spark.operators.logreg import _LR_SCORED_CTES
    from alertas_spark.operators.rulebattery import RB_BITS_SQL
    from alertas_spark.operators.textops import _UNIGRAM_SCORED_CTES

    return f"""{_LR_SCORED_CTES}, lr_prior AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tr,
               CAST(SUM(y) AS BIGINT) AS y_tr
        FROM lr_train
    ), {_UNIGRAM_SCORED_CTES},
    lb AS (
        SELECT s.doc_id, dd.lang, s.cross_entropy_nats,
               NTILE(3) OVER (PARTITION BY dd.lang
                              ORDER BY s.cross_entropy_nats, s.doc_id) AS nt
        FROM scored s JOIN documents dd USING (doc_id)
    ),
    rb_bits AS MATERIALIZED ({RB_BITS_SQL}),
    {CLIP_PAIRS_CTES},
    qe AS (
        SELECT r.doc_id, b.lang, r.y,
               CAST(r.mu AS DOUBLE) / 1e6 AS lr_prob,
               b.cross_entropy_nats,
               CASE b.nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                         ELSE 'tail' END AS ppl_bucket,
               CAST(CASE WHEN r.mu * p.n_tr >= 1000000 * p.y_tr
                         THEN 1 ELSE 0 END AS INTEGER) AS gate_lr,
               CAST(CASE WHEN b.nt <= 2 THEN 1 ELSE 0 END AS INTEGER)
                   AS gate_ppl,
               CAST(COALESCE(rb.battery_ok, 0) AS INTEGER) AS gate_rules,
               CAST(CASE WHEN COALESCE(cg.cos >= {CLIP_TAU}, TRUE)
                         THEN 1 ELSE 0 END AS INTEGER) AS gate_clip,
               CAST(CASE WHEN r.mu * p.n_tr >= 1000000 * p.y_tr
                          AND b.nt <= 2
                          AND COALESCE(rb.battery_ok, 0) = 1
                          AND COALESCE(cg.cos >= {CLIP_TAU}, TRUE)
                         THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM lr_scored r
        JOIN lb b ON b.doc_id = r.doc_id
        LEFT JOIN rb_bits rb ON rb.doc_id = r.doc_id
        LEFT JOIN cg_pairs cg ON cg.doc_id = r.doc_id
        CROSS JOIN lr_prior p
    )"""


def _ensemble_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of the ``qe`` CTE — shared by the ensemble query and
    the marginal-rejection audit."""
    from alertas_spark.operators.clipgate import CLIP_TAU, clip_pairs
    from alertas_spark.operators.logreg import (LR_FOLDS, _lr_features,
                                                _lr_scored)
    from alertas_spark.operators.rulebattery import rule_bits
    from alertas_spark.operators.textops import ccnet_perplexity_buckets
    from alertas_spark.sources.catalog import load_table

    from alertas_spark.operators.memo import overlap

    # the four gate sides are INDEPENDENT full-corpus passes and the LR side
    # is driver-serial (IRLS collect rounds) — materialize them concurrently
    # (guide §2.6: later jobs' tasks back-fill executors freed by the current
    # job's tail, and the scorer/rule/CLIP scans run WHILE the driver steps
    # the IRLS loop).  Each lands in the same deterministic relation it would
    # sequentially; the final stitch joins four thin checkpoint scans.
    lr, ppl, rb, cg = overlap(spark, [
        lambda: _lr_scored(spark, sf_dir).localCheckpoint(),
        lambda: ccnet_perplexity_buckets(spark, sf_dir).localCheckpoint(),
        lambda: (rule_bits(load_table(spark, sf_dir, "documents"))
                 .select("doc_id", "battery_ok").localCheckpoint()),
        lambda: (clip_pairs(spark, sf_dir)
                 .select("doc_id", F.col("cos").alias("clip_cos"))
                 .localCheckpoint()),
    ], max_workers=4)
    # the 2-number training prior reads the trainer's registered cache (the
    # canonicalized train subplan is substituted by the CacheManager), so
    # this costs one tiny agg, not a second tokenize pass
    prior = (_lr_features(spark, sf_dir)
             .filter(F.col("doc_id") % LR_FOLDS != 0)
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_tr"),
                  F.sum("y").cast("bigint").alias("y_tr")))
    gate_lr = (F.col("mu") * F.col("n_tr")
               >= 1000000 * F.col("y_tr")).cast("int")
    gate_ppl = (F.col("bucket") != "tail").cast("int")
    gate_rules = F.coalesce(F.col("battery_ok"), F.lit(0)).cast("int")
    # the image gate ABSTAINS (passes) for documents without a valid
    # embedding pair — a text-only document is not an alignment failure
    gate_clip = F.when(F.coalesce(F.col("clip_cos") >= CLIP_TAU,
                                  F.lit(True)), 1).otherwise(0).cast("int")
    keep = (gate_lr.cast("boolean") & gate_ppl.cast("boolean")
            & gate_rules.cast("boolean") & gate_clip.cast("boolean"))
    return (lr.join(ppl, "doc_id")
            .join(rb, "doc_id", "left")
            .join(cg, "doc_id", "left")
            .crossJoin(F.broadcast(prior))
            .select("doc_id", "lang", "y",
                    (F.col("mu").cast("double") / 1e6).alias("lr_prob"),
                    "cross_entropy_nats",
                    F.col("bucket").alias("ppl_bucket"),
                    gate_lr.alias("gate_lr"),
                    gate_ppl.alias("gate_ppl"),
                    gate_rules.alias("gate_rules"),
                    gate_clip.alias("gate_clip"),
                    keep.cast("int").alias("keep")))


@declare("pipeline_quality_ensemble",
         oracle=f"WITH {_qe_ctes()} SELECT * FROM qe")
def pipeline_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published multi-gate curation shape (CCNet + GPT-3 + Gopher +
    LAION composed): a document enters training iff the LEARNED classifier
    scores it above the corpus prior AND the LM perplexity cut keeps it out
    of the tail tercile AND it clears the heuristic rule battery AND its
    caption–image alignment clears the CLIP cut — four
    independently-oracle-checked gates (``lr_gate_select`` /
    ``ccnet_perplexity_buckets`` / ``quality_rule_battery`` /
    ``multimodal_clip_gate``) composed into one dataflow over the shared
    held-out fold, every gate bit exposed so a pipeline can audit each
    filter's marginal rejection (``gate_marginal_rejection``).

    Scale shape: the stages' own shapes compose — 3-number model broadcast
    for the LR side, the scorer's hash aggs + ONE per-lang tercile window
    for the perplexity side, a scan projection for the rule bits, two
    embedding equi-joins for the alignment side, fold-pruned equi-joins to
    stitch them."""
    return _ensemble_df(spark, sf_dir)


_QE_GATES = ("clip", "lr", "ppl", "rules")


def _oracle_marginal() -> str:
    rows = " UNION ALL ".join(
        f"""SELECT '{g}' AS gate, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(1 - gate_{g}) AS BIGINT) AS n_reject,
               CAST(SUM(CASE WHEN gate_{g} = 0
                              AND {" AND ".join(f"gate_{o} = 1"
                                                for o in _QE_GATES
                                                if o != g)}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_marginal
        FROM qe""" for g in _QE_GATES)
    return f"WITH {_qe_ctes()} SELECT * FROM ({rows}) ORDER BY gate"


@declare("gate_marginal_rejection", oracle=_oracle_marginal())
def gate_marginal_rejection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ensemble's per-gate audit: for each of the four gates, how many
    held-out documents it rejects and how many it ALONE rejects (every other
    gate keeps them) — the marginal-rejection table that tells a curation
    run which filter is actually binding and which is redundant (the
    DataComp/Gopher ablation question, answered relationally).

    Plan: the ensemble relation, one conditional hash-agg to a single row,
    a 4-row unpivot."""
    qe = _ensemble_df(spark, sf_dir)
    aggs = []
    for g in _QE_GATES:
        others = [o for o in _QE_GATES if o != g]
        marginal = F.when(
            (F.col(f"gate_{g}") == 0)
            & F.expr(" AND ".join(f"gate_{o} = 1" for o in others)),
            1).otherwise(0)
        aggs += [F.sum(1 - F.col(f"gate_{g}")).cast("bigint")
                 .alias(f"rej_{g}"),
                 F.sum(marginal).cast("bigint").alias(f"mar_{g}")]
    agg = qe.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"), *aggs)
    pairs = ", ".join(f"'{g}', rej_{g}, mar_{g}" for g in _QE_GATES)
    return (agg.selectExpr(
                f"stack({len(_QE_GATES)}, {pairs})"
                " AS (gate, n_reject, n_marginal)", "n_docs")
            .select("gate", "n_docs", "n_reject", "n_marginal")
            .orderBy("gate"))


# ---------------------------------------------------------------------------
# r18 capstone: quality ensemble ∧ leakage panel ∧ dedup → train-ready packs
# ---------------------------------------------------------------------------

def _oracle_train_ready() -> str:
    """The four-gate ensemble (``qe``), the five-axis leakage panel
    (``pnl``) and keep-first exact dedup stitched into the final manifest.
    Namespaces are disjoint by construction: qe's lr_*/tok/d/ct/g/rb_*/cg_*
    top-level CTEs never collide with the panel's pnl_* (each panel axis
    oracle is scoped inside its own subquery) or the ptr_* CTEs here."""
    from alertas_spark.operators.decon_panel import _panel_ctes
    from alertas_spark.operators.packing import PACK_BUDGET

    return f"""
    WITH {_qe_ctes()},
    {_panel_ctes()},
    ptr_kept AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        WHERE text IS NOT NULL GROUP BY md5(text)
    ),
    ptr AS MATERIALIZED (
        SELECT q.doc_id, d.source, q.lang,
               CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
                    AS BIGINT) AS n_tokens,
               CAST(p.flag_minkprob AS INTEGER) AS mink_member
        FROM qe q
        JOIN pnl p ON p.doc_id = q.doc_id
        JOIN ptr_kept k ON k.doc_id = q.doc_id
        JOIN documents d ON d.doc_id = q.doc_id
        WHERE q.keep = 1
          AND p.flag_overlap + p.flag_bloom + p.flag_minhash
              + p.flag_embedding = 0
    )
    SELECT doc_id, source, lang, n_tokens, mink_member,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {PACK_BUDGET} AS INTEGER) AS pack_id
    FROM ptr
    """


@declare("pipeline_train_ready", oracle=_oracle_train_ready())
def pipeline_train_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the published curation pipeline in one relation: a
    document of the shared held-out fold enters the training manifest iff
    it clears all FOUR quality gates (LR ∧ perplexity tercile ∧ rule
    battery ∧ CLIP — ``pipeline_quality_ensemble``), no CONTENT-based
    leakage screen flags it (``decontaminate_panel``'s overlap, bloom,
    MinHash and embedding axes clean), and it is its exact-duplicate
    group's keep-first winner — then the survivors are laid into
    per-source fixed-budget packs.  The panel's fifth axis (Min-K% Prob)
    rides along as the ``mink_member`` AUDIT column instead of a hard
    drop: membership inference is a detection signal calibrated against a
    held-out FPR in the published practice (Shi et al. 2023), and at the
    fixture-median τ it flags ~95 % of the sf0.1 corpus — a bulk drop
    would empty the manifest, which is exactly the operating lesson the
    column documents.  Output: (doc_id, source, lang, n_tokens,
    mink_member, pack_id) — what a dataloader reads.

    Every stage is an independently-oracled operator; this query pins the
    full composition (≈12 operators deep) cross-engine.  Scale shape: the
    stages' own audited shapes, three doc_id equi-joins to stitch (one
    reusable exchange partitioning), one shard-keyed packing window."""
    from alertas_spark.operators.decon_panel import _panel_df
    from alertas_spark.operators.memo import overlap
    from alertas_spark.operators.packing import pack_ids

    # the ensemble (LR retrain + scorer + battery + CLIP) and the five-axis
    # panel are independent until the stitch join — materialize the ensemble's
    # keep set concurrently with the panel's axis builds (guide §2.6; the
    # panel overlaps its own five axes internally), so the capstone's
    # wall-clock tracks its slowest branch instead of panel + ensemble in
    # sequence.  The checkpoint is a thin (doc_id, lang) keep-set projection.
    qe, clean = overlap(spark, [
        lambda: session_value(
            spark, ("train_ready_keep_set", sf_dir),
            lambda: _ensemble_df(spark, sf_dir)
            .filter(F.col("keep") == 1)
            .select("doc_id", "lang").localCheckpoint()),
        lambda: _panel_df(spark, sf_dir),
    ], max_workers=2)
    content_flags = ("flag_overlap", "flag_bloom", "flag_minhash",
                     "flag_embedding")
    clean = (clean
             .filter(sum(F.col(c) for c in content_flags) == 0)
             .select("doc_id",
                     F.col("flag_minkprob").cast("int")
                     .alias("mink_member")))
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    kept = (docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    n_tokens = F.size(words())
    surv = (qe.join(clean, "doc_id")
            .join(kept, "doc_id")
            .join(docs.select("doc_id", "source",
                              n_tokens.cast("bigint").alias("n_tokens")),
                  "doc_id"))
    return pack_ids(surv).select("doc_id", "source", "lang", "n_tokens",
                                 "mink_member", "pack_id")
