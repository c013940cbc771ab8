"""Headline analytical queries over the synthetic star schema.

The reference's gold layer is *designed for* star-join analytics (fact
carries sha2 surrogate keys matching the dims -- reference
``src/etl/silver_to_gold.py:131-133`` vs ``:66-69,79-82,118-121``) but it
implements none; this module provides that analytical surface on the
driver's TPC-H-ish fixtures (TESTDATA.md / FIXTURES.md §A).

Scale notes (100 TB design):
* Aggregations are expressed as plain groupBy/agg so Catalyst plans
  partial (map-side) aggregation before the shuffle.
* Dimension joins (region/nation/customer/supplier/part) are explicitly
  ``broadcast()`` -- dims are tiny relative to fact tables at any SF, so
  the fact side never shuffles for them.
* Filters are declared before joins/aggs so parquet scans receive the
  pushed-down predicates (verify via ``.explain``: ``PushedFilters``).
"""

from __future__ import annotations

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (flagship).

    Exercises scan, filter (pushed to parquet), projection, hash
    aggregate with map-side partials, and sort.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 4)                                 AS sum_qty,
  ROUND(SUM(l_extendedprice), 4)                            AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)         AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                 AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                            AS avg_price,
  ROUND(AVG(l_discount), 6)                                 AS avg_disc,
  COUNT(*)                                                  AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top-10 revenue among open orders for a segment.

    Exercises broadcast dim join (customer side after segment filter),
    fact-fact shuffled join (orders x lineitem on orderkey), agg, and
    TakeOrderedAndProject (orderBy+limit never fully sorts the cluster).
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(orders.where(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue by nation within one region.

    Star join across 5 tables; every dimension side is broadcast so the
    only shuffle is the final groupBy on n_name (then AQE-coalesced).
    """
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    dims = (
        customer.join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_unshipped_orders": q3_top_unshipped_orders,
    "q5_revenue_by_nation": q5_revenue_by_nation,
}
ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_unshipped_orders": Q3_SQL,
    "q5_revenue_by_nation": Q5_SQL,
}
