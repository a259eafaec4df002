"""Declarative skew mitigation as first-class pipeline operators.

The salted two-phase aggregate and the salted replicated join from
``functions/skew.py``, declared over the TPC-H tables so the driver oracle pins
result-identity with the plain GROUP BY / plain join at every round.  See that
module for when to reach for these vs AQE's runtime skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alertas_spark.functions.numeric import sql_dsum
from alertas_spark.registry import declare
from alertas_spark.sources.catalog import load_table


@declare(
    "salted_skew_agg",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items, {sql_dsum('l_quantity')} AS total_qty,
           CAST(MIN(l_shipdate) AS VARCHAR) AS first_ship
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (functions/skew.py): partial agg on (key, salt)
    then merge on key — identical result to a plain GROUP BY (the oracle), but hot
    keys spread over 16 reducers before the merge.  The explicit-salt analogue of
    Spark's own partial aggregation, for per-key-expensive follow-ups."""
    from alertas_spark.functions.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_quantity", "l_shipdate")
    out = salted_agg(
        li, ["l_suppkey"],
        {"n_items": F.count(F.lit(1)),
         "total_qty_dec": F.sum(F.col("l_quantity").cast("decimal(29,6)")),
         "first_ship": (F.min("l_shipdate"), F.min)},
    )
    return out.select(
        "l_suppkey", "n_items",
        F.round(F.col("total_qty_dec").cast("double"), 2).alias("total_qty"),
        F.col("first_ship").cast("string").alias("first_ship"),
    )


@declare(
    "salted_skew_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi join (functions/skew.py): small side replicated per salt, big side
    salted from the full row — result-identical to the plain join (the oracle) with
    hot keys fanned over 16 reducers.  For skewed keys when the dim is too big to
    broadcast; with broadcastable dims or AQE skew-split, prefer those."""
    from alertas_spark.functions.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").filter("o_totalprice > 100000") \
        .select("o_orderkey", F.col("o_custkey").alias("c_custkey"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    return (
        salted_join(orders, cust, "c_custkey", how="inner")
        .select("o_orderkey", F.col("c_custkey").alias("o_custkey"), "c_name",
                "c_nationkey")
    )
