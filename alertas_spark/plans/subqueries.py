"""Correlated-subquery query shapes (TPC-H Q4/Q13/Q17/Q21 analogs).

The reference engine has no subquery support at all (its queries are hand-written
join pipelines — ``/root/reference/src/alertas/jobs.py``), but any user replacing
it with a SQL-speaking engine writes EXISTS / NOT EXISTS / correlated-scalar
predicates on day one.  These queries pin the DECORRELATED plan for each classic
shape — semi join for EXISTS, condition-in-ON left join for the COUNT
distribution, aggregate-join for the correlated scalar, and the group-stats
rewrite for the double EXISTS/NOT-EXISTS — because that is what survives at
100 TB: every correlated predicate becomes one hash join against a pre-aggregated
side, never a per-row re-execution.

Date note: the fixture's TPC-H dates are TIMESTAMP columns; lineitem carries only
``l_shipdate``, so "late" is defined as shipping more than 60 days after the
order date (the fixture has no commit/receipt dates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import davg, sql_davg, finite
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table

#: "late shipment": more than this many days between order and ship date
LATE_DAYS = 60


@declare(
    "exists_late_shipment_orders",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY)
    GROUP BY o_orderpriority
    """,
)
def exists_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (one year) with at least one late-shipped line,
    counted per priority.  The correlated EXISTS decorrelates to ONE left-semi
    hash join on ``l_orderkey`` with the correlated date inequality in the
    join condition — per-order probe cost, no re-executed subquery, and the
    orders-side year filter is pushed to the parquet scan."""
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= "1995-01-01")
                      & (F.col("o_orderdate") < "1996-01-01")))
    li = load_table(spark, sf_dir, "lineitem")
    late = (orders.join(
        li, (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate
           + F.expr(f"INTERVAL {LATE_DAYS} DAYS")), "left_semi"))
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@declare(
    "customer_order_count_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderstatus <> 'F'
        GROUP BY c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def customer_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many (non-final) orders —
    including the zero-order customers the inner-join formulation silently
    drops.  The status filter lives in the JOIN CONDITION (not a WHERE, which
    would turn the outer join back into an inner one); first aggregate is per
    customer, second is the tiny distribution over counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, (cust.c_custkey == orders.o_custkey)
                  & (orders.o_orderstatus != "F"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@declare(
    "small_quantity_order_revenue",
    oracle=f"""
    WITH lim AS (
        SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(CAST(SUM(CAST((CASE WHEN isfinite(l_extendedprice)
                                     THEN l_extendedprice END)
                               AS DECIMAL(29,6))) AS VARCHAR) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN lim USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines whose quantity is below 20% of that
    part's average.  The correlated scalar subquery (per-part AVG) decorrelates
    to one aggregate over lineitem joined back on ``l_partkey`` — the
    aggregate-join rewrite; the average uses order-independent decimal
    accumulation (functions/numeric.davg) so the 0.2·avg comparison threshold
    is bit-identical under any partitioning and matches the oracle exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    lim = li.groupBy("l_partkey").agg(davg(F.col("l_quantity")).alias("avg_qty"))
    return (
        li.join(lim, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum(finite(F.col("l_extendedprice"))
                           .cast("decimal(29,6)"))
                     .cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@declare(
    "waiting_suppliers",
    oracle=f"""
    WITH f_orders AS (
        SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
    ), pairs AS (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem JOIN f_orders ON l_orderkey = o_orderkey
    ), late AS (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem JOIN f_orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
    ), stats AS (
        SELECT p.l_orderkey,
               COUNT(*) AS n_supp,
               COUNT(*) FILTER (WHERE lt.l_suppkey IS NOT NULL) AS n_late,
               MAX(CASE WHEN lt.l_suppkey IS NOT NULL THEN p.l_suppkey END)
                   AS only_late_supp
        FROM pairs p LEFT JOIN late lt
          ON p.l_orderkey = lt.l_orderkey AND p.l_suppkey = lt.l_suppkey
        GROUP BY p.l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM stats JOIN supplier ON s_suppkey = only_late_supp
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper in a
    multi-supplier finalized order (everyone else was waiting on them),
    counted per supplier.

    The textbook formulation is EXISTS (another supplier in the order) AND NOT
    EXISTS (another LATE supplier in the order) — two correlated self-joins of
    the fact table.  The scale-correct rewrite implemented here (and spelled
    identically in the oracle) folds both into ONE per-order aggregate over
    the distinct (order, supplier) participation pairs: n_supp ≥ 2 replaces
    the EXISTS, n_late = 1 replaces the NOT EXISTS, and the sole late supplier
    is recovered with a conditional MAX — a single groupBy on the join key
    instead of two extra shuffled self-joins, with identical semantics."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    f_orders = (orders.filter(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate"))
    joined = li.join(f_orders, li.l_orderkey == f_orders.o_orderkey)
    pairs = joined.select("l_orderkey", "l_suppkey").distinct()
    late = (joined.filter(F.col("l_shipdate") > F.col("o_orderdate")
                          + F.expr(f"INTERVAL {LATE_DAYS} DAYS"))
            .select("l_orderkey", "l_suppkey").distinct()
            .withColumn("is_late", F.lit(1)))
    stats = (
        pairs.join(late, ["l_orderkey", "l_suppkey"], "left")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_supp"),
             F.count("is_late").alias("n_late"),
             F.max(F.when(F.col("is_late").isNotNull(), F.col("l_suppkey")))
              .alias("only_late_supp"))
    )
    return (
        stats.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(supp, stats.only_late_supp == supp.s_suppkey)
        .groupBy("s_name").agg(F.count("*").alias("numwait"))
    )
