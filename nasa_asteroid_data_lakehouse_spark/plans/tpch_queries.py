"""TPC-H breadth suite, adapted to the driver's reduced fixture schema.

The reference implements no analytical queries at all (SURVEY.md §2.D:
no groupBy/agg, §2.C: no joins); its gold star schema merely *implies*
them.  This module supplies the canonical decision-support patterns —
single-scan filtered aggregation, multi-way broadcast star joins,
EXISTS / NOT-EXISTS correlated subqueries, group-having semi-joins,
OR-of-conjunction predicate pushdown, and scalar-subquery filters —
each hash-checked against DuckDB.

Adaptations (the fixtures carry a trimmed TPC-H schema, TESTDATA.md):
* no l_shipmode/l_commitdate → Q4/Q12 lateness is ``l_shipdate >
  o_orderdate + 60 days``; Q12 buckets by o_orderpriority urgency.
* no p_container → Q19 predicates use brand × size × quantity only.
* no c_phone → Q22 groups idle high-balance customers by nation.

Scale notes: every dimension side is ``broadcast()`` (region, nation,
part, supplier, customer at sf≤1 scale factors; at 100 TB customer
joins flip to shuffle joins automatically when they exceed the AQE
broadcast threshold — the declarative plan does not change).  Filters
are applied before joins so parquet scans receive pushed predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nasa_asteroid_data_lakehouse_spark.catalog import read_table


# --- Q4: order priority checking (EXISTS semi-join) --------------------------


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in 1997Q1 with at least one line shipped >60 days after
    the order date, counted by priority.  EXISTS → LEFT SEMI join on
    the fact key; the lineitem scan receives no filter but the join is
    key-local after the orders filter prunes the build side."""
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    late = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q6: forecast revenue change (single-scan filtered agg) ------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-filter-aggregate: all three predicates push to the
    parquet reader; no shuffle beyond the single-row final agg."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- Q7: volume shipping between two nations ---------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flow between NATION_1 and NATION_2 (both directions) by
    ship year.  Supplier→nation and customer→nation are broadcast; the
    lineitem↔orders join is the only fact-fact shuffle."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    )
    lineitem = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        lineitem.join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- Q8: market share ---------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part revenue sold into EUROPE, by
    order year.  Conditional aggregation over a 6-table star join;
    every dimension broadcast."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    euro_cust = (
        read_table(spark, sf_dir, "customer")
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            broadcast(region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        read_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    promo = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        read_table(spark, sf_dir, "lineitem")
        .join(broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            read_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(broadcast(euro_cust), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(SUM(CASE WHEN ns.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = 'PROMO'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region ON nc.n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE')
GROUP BY 1
ORDER BY 1
"""


# --- Q10: returned item reporting --------------------------------------------


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by lost revenue from returned ('R') lines in
    1997H1.  TakeOrderedAndProject caps the sort at k rows."""
    returned = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        returned.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q12: late-shipping priority mix (conditional counts) --------------------


def q12_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For lines shipped >60 days after the order date in 1997, count
    urgent (1/2) vs other priorities by order status — the Q12
    pattern with o_orderstatus standing in for l_shipmode."""
    lineitem = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("o_orderstatus")
    )


Q12_SQL = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- Q14: promotion effect ----------------------------------------------------


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent of one month's revenue from PROMO-type parts.
    Broadcast part join + conditional aggregation into one scalar."""
    lineitem = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# --- Q18: large-volume customers (group-having semi-join) --------------------


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 250, with their customers.
    The HAVING pre-aggregation shrinks the fact side before any join —
    at 100 TB this is the difference between joining 60 B rows and
    joining the handful of jumbo orders."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       ROUND(total_qty, 2) AS total_qty
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 250
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
"""


# --- Q19: discounted revenue (OR-of-conjunctions pushdown) -------------------


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three brand × size × quantity bands.  The OR of
    conjunctions is declared once; Catalyst extracts the common
    p_partkey join and pushes brand/size to the part scan."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    bands = (
        ((brand == "Brand#11") & size.between(1, 15) & qty.between(1, 21))
        | ((brand == "Brand#12") & size.between(1, 25) & qty.between(10, 30))
        | ((brand == "Brand#13") & size.between(1, 35) & qty.between(20, 40))
    )
    return (
        lineitem.join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(bands)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


Q19_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


# --- Q22: idle high-balance customers (scalar subquery + anti-join) ----------


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average positive balance and no orders
    since 2000, by nation.  The average is a broadcast scalar; the
    NOT-EXISTS is a left-anti join against the filtered orders."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


Q22_SQL = """
SELECT n_name AS nation, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
ORDER BY 1
"""


# --- Q2: minimum-cost supplier (correlated MIN subquery) ---------------------
#
# The fixtures carry no partsupp table; the (part, supplier) supply
# relation is derived from lineitem with unit cost
# MIN(l_extendedprice / l_quantity) — deterministic across engines
# because MIN (unlike SUM) is aggregation-order-invariant on doubles.


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For STANDARD size-15 parts, the cheapest EUROPE supplier(s).
    The correlated `= (SELECT MIN ...)` becomes a per-part window MIN
    over the already-joined eligible rows — one shuffle on l_partkey
    instead of a second scan + rejoin of the subquery."""
    from pyspark.sql import Window

    cost = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur_supp = (
        read_table(spark, sf_dir, "supplier")
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    parts = read_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    w = Window.partitionBy("p_partkey")
    return (
        cost.join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "nation", "p_partkey", "p_name",
            # raw double, deliberately un-rounded: the quotient and MIN
            # are single IEEE operations, bit-identical across engines,
            # while ROUND-of-a-quotient is not (Spark rounds the
            # shortest-decimal form HALF_UP, DuckDB scales-and-rounds —
            # they disagree on ties like 26.24125; seen at sf0.001)
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2),
eligible AS (
  SELECT c.l_partkey, c.unit_cost, s_name, s_acctbal, n_name
  FROM cost c
  JOIN supplier ON c.l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_name,
       e.unit_cost
FROM part
JOIN eligible e ON p_partkey = e.l_partkey
WHERE p_size = 15 AND p_type = 'STANDARD'
  AND e.unit_cost = (SELECT MIN(unit_cost) FROM eligible e2
                     WHERE e2.l_partkey = p_partkey)
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
"""


# --- Q11: important stock identification (HAVING over scalar subquery) -------


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose NATION_1-supplied value exceeds 0.1% of the total.
    The filtered fact is computed once and reused for both the per-part
    sums and the grand-total scalar (broadcast as a 1-row cross join)."""
    nat1_supp = (
        read_table(spark, sf_dir, "supplier")
        .join(
            broadcast(
                read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast(nat1_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    total = li.agg((F.sum("l_extendedprice") * 0.001).alias("threshold"))
    return (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum("l_extendedprice").alias("_raw_value"),
        )
        .crossJoin(broadcast(total))
        .where(F.col("_raw_value") > F.col("threshold"))
        .select("partkey", F.round("_raw_value", 2).alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


Q11_SQL = """
SELECT l_partkey AS partkey, ROUND(SUM(l_extendedprice), 2) AS value
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                    JOIN nation ON s_nationkey = n_nationkey
                    WHERE n_name = 'NATION_1')
GROUP BY 1
HAVING SUM(l_extendedprice) > (
  SELECT SUM(l_extendedprice) * 0.001 FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = 'NATION_1'))
ORDER BY value DESC, partkey
"""


# --- Q13: customer order-count distribution (outer join + double agg) --------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-customer order counts (zero-order customers
    included via the left outer join).  The non-equi part of the join
    condition (priority exclusion) stays in the join, not a post-filter,
    so null-extension semantics match canonical Q13."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q15: top supplier (MAX scalar over a derived view) ----------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum 1997Q1 revenue.  Revenue is rounded
    to cents *before* the MAX comparison so the equality predicate is
    FP-stable across engines; the revenue view is computed once and
    reused for the scalar (Spark reuses the shuffle via AQE)."""
    revenue = (
        read_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --- Q16: parts/supplier relationship (NOT IN + COUNT DISTINCT) --------------


def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier counts per (brand, type, size) over the
    lineitem-derived supply relation, excluding one brand, one type
    band, and negative-balance suppliers (the fixtures' stand-in for
    the 'customer complaints' comment filter).  NOT IN → left anti."""
    bad_supp = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    parts = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#15")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#15'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- Q17: small-quantity-order revenue (correlated AVG subquery) -------------


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if Brand#13 orders below 20% of the
    part's mean quantity were not taken.  The per-part correlated AVG
    becomes one grouped aggregate on the brand-restricted lineitem
    (semi-joined first, so the threshold pass scans only brand parts);
    the threshold is rounded in both engines for FP-stable comparison."""
    brand_parts = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.round(F.avg("l_quantity") * 0.2, 4).alias("qty_threshold")
    )
    return (
        li.join(broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT ROUND(0.2 * AVG(l_quantity), 4)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


# --- Q20: potential part promotion (nested semi-join chain) ------------------


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_2 suppliers that moved >50 units of any 'red' part in
    1997.  The grouped HAVING subquery reduces to a (suppkey, partkey)
    aggregate; the IN becomes a left-semi join — no row multiplication
    at any step."""
    red_parts = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    movers = (
        read_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    nat2 = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    return (
        read_table(spark, sf_dir, "supplier")
        .join(broadcast(nat2), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_2'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 50)
ORDER BY s_name
"""


# --- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS) ------------
#
# The fixtures carry no l_commitdate/l_receiptdate; "late" is
# l_shipdate > o_orderdate + 90 days (same adaptation as Q4/Q12).


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that were the *sole* late shipper on a multi-supplier
    finished order.  The EXISTS/NOT-EXISTS pair over lineitem self-joins
    is computed as one per-order aggregate (distinct suppliers, distinct
    late suppliers) — one shuffle replaces two correlated self-joins,
    which at 100 TB is the difference between 1 and 3 fact shuffles."""
    orders_f = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        )
    )
    ostats = li.groupBy(F.col("l_orderkey").alias("g_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late"),
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.where(F.col("is_late"))
        .join(
            ostats.where((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            F.col("l_orderkey") == F.col("g_orderkey"),
        )
        .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_late_shipping": q12_late_shipping,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_parts_supplier": q16_parts_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_idle_customers": q22_idle_customers,
}

ORACLES = {
    "q2_min_cost_supplier": Q2_SQL,
    "q4_order_priority": Q4_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q10_returned_items": Q10_SQL,
    "q11_important_stock": Q11_SQL,
    "q12_late_shipping": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_parts_supplier": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_discounted_revenue": Q19_SQL,
    "q20_potential_promotion": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q22_idle_customers": Q22_SQL,
}
