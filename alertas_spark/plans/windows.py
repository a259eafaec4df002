"""Window-function and multi-dimensional aggregation operators (SURVEY §2.5 ext).

The reference engine has no window functions (its greatest-n-per-group shapes are
agg+join-back, re-expressed as windows in plans/joins.py); this module rounds out
the idiomatic-Spark window surface an analytics user expects on top of it:

* ROLLUP / CUBE / GROUPING SETS with ``grouping_id`` markers (one map-side
  expand + a single hash-aggregate shuffle — Spark's Expand operator emits one
  row per grouping set per input row, so the shuffle carries the pre-aggregated
  partials of every set at once; no per-set rescans);
* NTILE quartiles, LAG gaps, running totals, frame-bounded moving averages;
* pivot (wide conditional aggregation);
* an event funnel (sequential min-timestamp constraints per user).

Scale notes: every per-entity window partitions by a high-cardinality key
(c_custkey / user_id) — thousands of small sorted partitions, no single-task
sort.  The two non-keyed windows are bounded by construction and documented at
the definition: ``ntile`` partitions by market segment over customers (the
reference dimension with ~5 segments; for an unbounded-cardinality ranking use
the two-phase top-k in operators/topk.py instead), and the moving average runs
over a *daily pre-aggregate* whose row count is calendar-bounded (~2.4k rows
for 7 years at ANY scale factor — aggregate-then-window, never window-then-
aggregate).

Float determinism: window sums/averages accumulate in DECIMAL exactly like the
grouped aggregates (functions/numeric.py) — a running total must not depend on
how Spark merged the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import ACC, dsum, finite, sql_dsum
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# ROLLUP / CUBE / GROUPING SETS
# ---------------------------------------------------------------------------

@declare(
    "rollup_priority_status",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """,
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (priority → status → grand total) with grouping_id
    markers.  Physical shape: Expand (3 sets) → one partial agg → one shuffle —
    the multi-set answer costs a single pass over the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count("*").alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("sum_price"))
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders", "sum_price")
    )


@declare(
    "cube_priority_segment",
    oracle=f"""
    SELECT o_orderpriority, c_mktsegment,
           CAST(GROUPING(o_orderpriority, c_mktsegment) AS INTEGER) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE(o_orderpriority, c_mktsegment)
    """,
)
def cube_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over a fact⋈dim join: all 4 grouping sets in one Expand+agg pass.
    The join shuffles on the key and AQE picks broadcast when the dim fits;
    the cube itself adds NO extra shuffle beyond the final aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .cube("o_orderpriority", "c_mktsegment")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count("*").alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("sum_price"))
        .select("o_orderpriority", "c_mktsegment", "gid", "n_orders", "sum_price")
    )


@declare(
    "grouping_sets_orders",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the two single-dimension marginals plus the
    grand total, WITHOUT the cross product a CUBE would add (3 sets, not 4)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets([["o_orderpriority"], ["o_orderstatus"], []],
                            "o_orderpriority", "o_orderstatus")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count("*").alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("sum_price"))
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders", "sum_price")
    )


# ---------------------------------------------------------------------------
# Ranking / frame windows
# ---------------------------------------------------------------------------

@declare(
    "ntile_customer_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND(c_acctbal, 2) AS acctbal,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal NULLS LAST, c_custkey) AS INTEGER)
               AS quartile
    FROM customer
    """,
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) account-balance quartiles per market segment.  Total order
    (balance, custkey) makes tile assignment deterministic.  Partition key is
    the ~5-value segment dimension: bounded fan-in by construction, each
    segment sorts in one task — for an unbounded key use two-phase top-k
    (operators/topk.py) or range-partitioned approx quantiles
    (operators/profiling.py) instead of a global NTILE."""
    cust = load_table(spark, sf_dir, "customer")
    # asc_nulls_last: Spark defaults NULLS FIRST on ASC, DuckDB NULLS LAST —
    # the one window-ordering convention the engines disagree on; every
    # ordering over a nullable column in this module pins NULLS LAST
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey")
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@declare(
    "lag_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate NULLS LAST,
                                                o_orderkey),
                o_orderdate) AS INTEGER) AS gap_days
    FROM orders
    """,
)
def lag_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days since the customer's previous order (LAG; NULL for the first).
    Partitioned by customer — high-cardinality key, small sorted runs, the
    scale-safe window shape."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
         .cast("int").alias("gap_days"),
    )


@declare(
    "running_total_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(CAST(SUM(CAST((CASE WHEN isfinite(o_totalprice) THEN o_totalprice END) AS DECIMAL(29,6))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS LAST, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE), 2) AS running_spend,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate NULLS LAST,
                                            o_orderkey) AS INTEGER)
               AS nth_order
    FROM orders
    """,
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order.  The frame sum
    accumulates in DECIMAL: a running total must be identical however Spark
    evaluates the frame (and identical to the sequential oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), "o_orderkey")
    w = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum(finite(F.col("o_totalprice")).cast(ACC))
                .over(w).cast("double"), 2)
         .alias("running_spend"),
        F.row_number().over(wr).cast("int").alias("nth_order"),
    )


@declare(
    "moving_avg_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS day, {sql_dsum('o_totalprice')} AS revenue
        FROM orders GROUP BY o_orderdate
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
           ROUND(CAST(CAST(SUM(CAST(revenue AS DECIMAL(29,6))) OVER (
                 ORDER BY day NULLS LAST
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) OVER (
                 ORDER BY day NULLS LAST
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS ma7
    FROM daily
    """,
)
def moving_avg_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average of daily revenue.  Aggregate-then-window:
    the unpartitioned frame runs over the DAILY pre-aggregate, whose size is
    bounded by the calendar (~2.4k rows for the 1995-2001 span at ANY scale
    factor) — the fact-table pass is a plain distributed hash aggregate, and
    only the tiny series is single-partition."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.col("o_orderdate").alias("day"))
             .agg(dsum(F.col("o_totalprice")).alias("revenue")))
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(
        -6, Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "revenue",
        F.round(F.sum(F.col("revenue").cast(ACC)).over(w).cast("double")
                / F.count("*").over(w), 4).alias("ma7"),
    )


# ---------------------------------------------------------------------------
# Pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------

@declare(
    "pivot_status_by_segment",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}
               AS price_f,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}
               AS price_o,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}
               AS price_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status to columns per market segment.  The pivot values are
    PINNED (['F','O','P']): with explicit values Spark skips the extra
    distinct-collection job and pivots in the same single aggregate pass —
    the only pivot shape that belongs in a 100 TB plan."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    piv = (joined.groupBy("c_mktsegment")
           .pivot("o_orderstatus", ["F", "O", "P"])
           .agg(F.count(F.lit(1)).alias("n"),  # COUNT(*) star is rejected in Pivot
                dsum(F.col("o_totalprice")).alias("price")))
    # A (segment, status) combination with zero rows pivots to NULL, but the
    # oracle's COUNT(*) FILTER yields 0 — coalesce the count columns so the
    # cross-engine semantics match on ANY fixture, not just ones where every
    # segment has all three statuses.  The price sums stay NULL on both sides
    # (SUM over no rows is NULL in Spark and DuckDB alike).
    zero = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return piv.select(
        "c_mktsegment",
        zero("F_n").alias("n_f"), zero("O_n").alias("n_o"),
        zero("P_n").alias("n_p"),
        F.col("F_price").alias("price_f"), F.col("O_price").alias("price_o"),
        F.col("P_price").alias("price_p"),
    )


# ---------------------------------------------------------------------------
# Event funnel
# ---------------------------------------------------------------------------

@declare(
    "funnel_view_click_purchase",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
               MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
           COUNT(*) FILTER (WHERE t_click > t_view) AS n_view_click,
           COUNT(*) FILTER (WHERE t_click > t_view AND t_purchase > t_click)
               AS n_view_click_purchase
    FROM per_user
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose sequential funnel view → click → purchase: first-occurrence
    timestamps per user must be strictly increasing step to step.  One hash
    aggregate on user_id (high-cardinality, scale-safe) + a global roll-up of
    three counts; NULL comparisons are unknown-falsy in both engines, so a
    missing step drops the user from every later stage."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
         .alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1))
         .alias("n_view_click"),
        F.count(F.when((F.col("t_click") > F.col("t_view"))
                       & (F.col("t_purchase") > F.col("t_click")), 1))
         .alias("n_view_click_purchase"),
    )


# ---------------------------------------------------------------------------
# Global ORDER BY + LIMIT (TakeOrderedAndProject) and SCD2 intervals (LEAD)
# ---------------------------------------------------------------------------

@declare(
    "top_revenue_orders",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — global ORDER BY + LIMIT over an aggregated join.
    Spark executes this as ``TakeOrderedAndProject``: per-partition heap top-k
    partials merged on the driver — the BUILT-IN two-phase top-k, never a
    global sort (check the plan: no Sort + Exchange pair under the limit).
    Tie column (orderkey) makes the cut deterministic cross-engine."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@declare(
    "scd2_priority_history",
    oracle="""
    WITH daily AS (
        SELECT o_custkey, o_orderdate,
               arg_max(o_orderpriority, o_orderkey) AS p
        FROM orders GROUP BY 1, 2
    ), seq AS (
        SELECT o_custkey, p, o_orderdate,
               LAG(p) OVER w AS prev_p, ROW_NUMBER() OVER w AS rn
        FROM daily
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate NULLS LAST)
    ), changes AS (
        SELECT o_custkey, p, o_orderdate
        FROM seq WHERE rn = 1 OR p IS DISTINCT FROM prev_p
    )
    SELECT o_custkey AS custkey, p AS priority,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate NULLS LAST),
                    '%Y-%m-%d') AS valid_to
    FROM changes
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build at DAILY grain: collapse each (customer, day) to its
    end-of-day state (``max_by`` on the day's last order — same-day churn is
    sub-grain noise, and keeping it would make the LEAD tie-nondeterministic),
    change-detect on the daily series, then LEAD the next change date into a
    [valid_from, valid_to) interval (open-ended current row → NULL valid_to).
    The canonical slowly-changing-dimension construction: one aggregate + two
    window passes, all partitioned by the high-cardinality entity key — no
    self-join, scale-safe; dates within a partition are unique, so every
    window order is total and the intervals chain gaplessly
    (tests/test_plan_shapes.py pins chaining + strict positivity)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy("o_custkey", "o_orderdate")
             .agg(F.max_by("o_orderpriority", "o_orderkey").alias("p")))
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"))
    seq = daily.select(
        "o_custkey", "p", "o_orderdate",
        F.lag("p").over(w).alias("prev_p"),
        F.row_number().over(w).alias("rn"),
    )
    changes = seq.filter((F.col("rn") == 1)
                         | ~F.col("p").eqNullSafe(F.col("prev_p")))
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("p").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd")
         .alias("valid_to"),
    )


@declare(
    "acctbal_distribution_ranks",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS LAST, c_custkey)
    """,
)
def acctbal_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST per market segment over account balance — the
    two distribution window functions the ranking queries (ntile/row_number)
    don't cover.  The customer tiebreak makes the order total, so both
    engines agree bit-for-bit; one sort+exchange on the segment serves both
    functions."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey")
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@declare(
    "rank_dense_rank_quantity_popularity",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS flag, l_quantity AS qty, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
    )
    SELECT flag, qty, n,
           CAST(RANK() OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk
    FROM g
    WINDOW w AS (PARTITION BY flag ORDER BY n DESC)
    """,
)
def rank_dense_rank_quantity_popularity(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """RANK vs DENSE_RANK over genuinely tied data: quantity-popularity per
    return flag (many counts tie, so the gap/no-gap semantics of the two
    functions actually diverge — the corpus's row_number/ntile/percent_rank
    queries all use tie-broken total orders and never exercise this).  Tied
    rows get EQUAL ranks on any engine, so no tiebreak column is needed for
    determinism; aggregate-then-rank keeps the window input at distinct-value
    cardinality, not fact-table cardinality."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (li.groupBy(F.col("l_returnflag").alias("flag"),
                    F.col("l_quantity").alias("qty"))
         .agg(F.count("*").alias("n")))
    w = Window.partitionBy("flag").orderBy(F.desc("n"))
    return g.select(
        "flag", "qty", "n",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"))


@declare(
    "equi_depth_histogram_order_value",
    oracle="""
    WITH f AS (
        SELECT o_orderstatus,
               CASE WHEN isfinite(o_totalprice) THEN o_totalprice END AS v
        FROM orders
    ), b AS (
        SELECT quantile_cont(v, 0.25) AS q1,
               quantile_cont(v, 0.50) AS q2,
               quantile_cont(v, 0.75) AS q3
        FROM f
    )
    SELECT o_orderstatus,
           CASE WHEN v IS NULL THEN NULL
                WHEN v <= q1 THEN 1 WHEN v <= q2 THEN 2
                WHEN v <= q3 THEN 3 ELSE 4 END AS bucket,
           COUNT(*) AS n
    FROM f, b
    GROUP BY 1, 2
    """,
)
def equi_depth_histogram_order_value(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """EQUI-DEPTH complement to the equal-width ``price_histogram_width_bucket``:
    quartile boundaries from the exact interpolated percentile (identical
    definition to the oracle's ``quantile_cont``, so the boundary doubles are
    bit-equal), bucketed per status in a second pass over the scan — the J7
    1-row-broadcast idiom again, two scans total, no shuffle beyond two tiny
    aggregates.  Non-finite/NULL values take a NULL bucket (finite-domain
    contract); by construction each global bucket holds ~25% of finite rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", finite(F.col("o_totalprice")).alias("v"))
    b = orders.agg(
        F.percentile(F.col("v"), F.lit([0.25, 0.5, 0.75])).alias("qs")
    ).select(F.col("qs")[0].alias("q1"), F.col("qs")[1].alias("q2"),
             F.col("qs")[2].alias("q3"))
    return (orders.crossJoin(F.broadcast(b))
            .groupBy("o_orderstatus",
                     F.when(F.col("v").isNull(), None)
                      .when(F.col("v") <= F.col("q1"), 1)
                      .when(F.col("v") <= F.col("q2"), 2)
                      .when(F.col("v") <= F.col("q3"), 3)
                      .otherwise(4).alias("bucket"))
            .agg(F.count("*").alias("n")))
