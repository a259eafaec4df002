"""Batch MERGE (SCD1 upsert) semantics: snapshot ⟕⟖ updates → classified rows.

The engine's streaming side ships a keyed-upsert sink (streaming/sinks.py);
this is the BATCH half of the same contract, expressed declaratively: a full
outer join of the current snapshot with an update batch, each output row
classified as ``insert`` (new key), ``update`` (key in both, newer value
wins), or ``carry`` (key untouched) — the row-level audit a MERGE INTO
statement implies, without engine-specific DML.

Scale shape: two grouped aggregates (map-side partial, one shuffle each,
same key) + one full outer join that co-partitions on that key — at 100 TB
the join reuses the aggregates' hash partitioning, so no extra exchange
(verify with .explain: a single Exchange per side feeding SortMergeJoin).

Fixture framing: orders before CUTOFF are the "snapshot", orders on/after are
the "update batch", key = o_custkey, value = the customer's latest order
(max_by on date with orderkey tiebreak) — deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import finite
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

CUTOFF = "2000-01-01"


def _latest(orders: DataFrame, cmp) -> DataFrame:
    side = orders.filter(cmp)
    key = F.struct("o_orderdate", "o_orderkey")  # total order: date, then key
    return (side.groupBy("o_custkey")
            .agg(F.max(key).alias("k"),
                 F.max_by(F.col("o_totalprice"), key).alias("price"))
            .select("o_custkey",
                    F.col("k.o_orderkey").alias("okey"),
                    F.round("price", 2).alias("price")))


@declare(
    "merge_upsert_customers",
    oracle=f"""
    WITH rs AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '{CUTOFF}'
    ), snap AS (
        SELECT o_custkey, o_orderkey AS okey, ROUND(o_totalprice, 2) AS price
        FROM rs WHERE rn = 1
    ), ru AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC)
                   AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '{CUTOFF}'
    ), upd AS (
        SELECT o_custkey, o_orderkey AS okey, ROUND(o_totalprice, 2) AS price
        FROM ru WHERE rn = 1
    )
    SELECT COALESCE(s.o_custkey, u.o_custkey) AS custkey,
           CASE WHEN s.o_custkey IS NULL THEN 'insert'
                WHEN u.o_custkey IS NULL THEN 'carry'
                ELSE 'update' END AS action,
           COALESCE(u.okey, s.okey) AS latest_orderkey,
           COALESCE(u.price, s.price) AS latest_price
    FROM snap s FULL OUTER JOIN upd u ON s.o_custkey = u.o_custkey
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE classification: updates win over snapshot per key; every
    surviving key labeled insert / update / carry."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit(CUTOFF).cast("timestamp")
    snap = _latest(orders, F.col("o_orderdate") < cut).alias("s")
    upd = _latest(orders, F.col("o_orderdate") >= cut).alias("u")
    return (
        snap.join(upd, F.col("s.o_custkey") == F.col("u.o_custkey"), "full_outer")
        .select(
            F.coalesce("s.o_custkey", "u.o_custkey").alias("custkey"),
            F.when(F.col("s.o_custkey").isNull(), "insert")
             .when(F.col("u.o_custkey").isNull(), "carry")
             .otherwise("update").alias("action"),
            F.coalesce("u.okey", "s.okey").alias("latest_orderkey"),
            F.coalesce("u.price", "s.price").alias("latest_price"),
        )
    )


@declare(
    "ivm_incremental_revenue",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           ROUND(CAST(CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice)
                                     THEN o_totalprice END)
                               AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE), 2)
               AS revenue
    FROM orders GROUP BY o_custkey
    """,
)
def ivm_incremental_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-customer revenue aggregate is
    maintained as *mergeable partials* — the pre-CUTOFF "materialized
    snapshot" and the post-CUTOFF "delta batch" are aggregated separately and
    combined by ADDING partials (full outer join on the key, coalesce + add),
    never by rescanning history.  The oracle intentionally computes the FULL
    aggregate over all orders: equality proves the IVM identity
    ``agg(all) = merge(agg(old), agg(delta))`` holds exactly.

    Why it holds bit-for-bit: counts are integers and the revenue partials
    stay UNROUNDED DECIMAL(29,6) until after the merge — decimal addition is
    associative and commutative, so splitting the data at any cutoff (or any
    partitioning) cannot change the final sum; the single ROUND happens once
    at the end, exactly where the oracle rounds.  This is the nightly shape
    at 100 TB: the delta aggregate scans one day, the merge co-partitions on
    the key, and history is never re-read."""
    orders = load_table(spark, sf_dir, "orders")

    def partial(cmp) -> DataFrame:
        return (orders.filter(cmp).groupBy("o_custkey")
                .agg(F.count("*").alias("n"),
                     F.sum(finite(F.col("o_totalprice"))
                           .cast("decimal(29,6)")).alias("rev")))

    # the split must be EXHAUSTIVE: a NULL order date satisfies neither
    # comparison, and a row that lands in no batch silently vanishes from the
    # maintained view (caught by the adversarial fixture sweep) — unknown-date
    # rows belong to the historical snapshot (they cannot be "new")
    old = partial((F.col("o_orderdate") < CUTOFF)
                  | F.col("o_orderdate").isNull())
    delta = partial(F.col("o_orderdate") >= CUTOFF)
    o, d = old.alias("o"), delta.alias("d")
    merged = o.join(d, F.col("o.o_custkey") == F.col("d.o_custkey"),
                    "full_outer")
    zero_n = F.lit(0).cast("bigint")
    zero_r = F.lit(0).cast("decimal(29,6)")
    return merged.select(
        F.coalesce("o.o_custkey", "d.o_custkey").alias("o_custkey"),
        (F.coalesce("o.n", zero_n) + F.coalesce("d.n", zero_n))
            .alias("n_orders"),
        F.round((F.coalesce("o.rev", zero_r) + F.coalesce("d.rev", zero_r))
                .cast("double"), 2).alias("revenue"),
    )


#: the retraction fixture: pre-CUTOFF orders matching this predicate are
#: "cancelled" by the nightly delta (delete events); everything post-CUTOFF
#: arrives as insert events
_RETRACT = "o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'"


@declare(
    "ivm_incremental_revenue_retract",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           ROUND(CAST(CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice)
                                     THEN o_totalprice END)
                               AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE), 2)
               AS revenue
    FROM orders
    WHERE NOT COALESCE(o_orderdate < TIMESTAMP '{CUTOFF}'
                       AND {_RETRACT}, FALSE)
    GROUP BY o_custkey
    """,
)
def ivm_incremental_revenue_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with a RETRACTION-bearing delta: the
    nightly batch carries inserts (post-CUTOFF orders) AND deletes
    (pre-CUTOFF orders matching the cancellation predicate), and the
    maintained aggregate merges snapshot + insert partials **minus** delete
    partials — a delete retracts as a NEGATIVE (count, sum) pair, an update
    is delete(old)+insert(new).  Groups whose merged count reaches zero are
    dropped (a group must not survive as a (0, 0.00) tombstone).  The oracle
    re-aggregates the full post-delete state from scratch, so equality proves
    ``agg(base ∖ deleted ∪ inserted) = agg(snapshot) + agg(ins) − agg(del)``
    exactly — counts are integers, revenue partials stay unrounded
    DECIMAL(29,6) through the merge (associative/commutative), one final
    ROUND.

    **Why SUM/COUNT retract and MIN/MAX do not**: sum and count are abelian-
    group aggregates — every element has an inverse (−x), so a delete folds
    in as a negative partial without touching history.  MIN/MAX are only
    semilattice ops (no inverse): deleting the current minimum says nothing
    about the runner-up, which the partial threw away — maintaining MIN/MAX
    under deletes requires re-aggregating the affected groups from base (or
    keeping a per-group heap/histogram of all values, which IS the base).
    tests/test_contracts.py::test_min_is_not_retractable_without_base pins
    this with a concrete counterexample."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.col("o_orderdate") < CUTOFF
    snap_side = cut | F.col("o_orderdate").isNull()  # exhaustive split (above)
    cancelled = F.expr(_RETRACT)

    def partial(cmp, sign: int) -> DataFrame:
        return (orders.filter(cmp).groupBy("o_custkey")
                .agg((F.count("*") * sign).alias("n"),
                     (F.sum(finite(F.col("o_totalprice"))
                            .cast("decimal(29,6)")) * sign).alias("rev")))

    snap = partial(snap_side, +1)                 # the materialized snapshot
    ins = partial(F.col("o_orderdate") >= CUTOFF, +1)   # delta: inserts
    dele = partial(cut & cancelled, -1)           # delta: deletes (negative)
    delta = (ins.unionByName(dele).groupBy("o_custkey")
             .agg(F.sum("n").alias("n"), F.sum("rev").alias("rev")))
    s, d = snap.alias("s"), delta.alias("d")
    zero_n = F.lit(0).cast("bigint")
    zero_r = F.lit(0).cast("decimal(29,6)")
    merged = (s.join(d, F.col("s.o_custkey") == F.col("d.o_custkey"),
                     "full_outer")
              .select(F.coalesce("s.o_custkey", "d.o_custkey")
                       .alias("o_custkey"),
                      (F.coalesce("s.n", zero_n) + F.coalesce("d.n", zero_n))
                       .alias("n_orders"),
                      (F.coalesce("s.rev", zero_r)
                       + F.coalesce("d.rev", zero_r)).alias("rev")))
    return (merged.filter(F.col("n_orders") > 0)   # drop fully-retracted keys
            .select("o_custkey", "n_orders",
                    F.round(F.col("rev").cast("double"), 2).alias("revenue")))
