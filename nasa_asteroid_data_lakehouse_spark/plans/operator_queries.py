"""Operator-level queries for the driver's DuckDB-oracle correctness gate.

Each function wraps ONE engine operator (from ``operators/`` or
``functions/``) applied to the synthetic fixture tables, paired with
the ANSI-SQL equivalent DuckDB runs side-by-side.  Float outputs are
rounded identically on both sides so the driver's value hash is stable
across the engines' different accumulation orders.
"""

from __future__ import annotations

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark import operators as ops
from nasa_asteroid_data_lakehouse_spark.functions import (
    surrogate_key,
    with_calendar_parts,
)


# --- D4/D5/E: dedup --------------------------------------------------------

def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-subset dedup: one row per text, lowest doc_id wins."""
    docs = read_table(spark, sf_dir, "documents")
    return ops.dedup_deterministic(
        docs.select("doc_id", "text", "lang", "source"), ["text"], ["doc_id"]
    )


DEDUP_EXACT_SQL = """
SELECT doc_id, text, lang, source
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
"""


def dedup_all_columns_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row exact dedup (reference dropDuplicates() semantics)."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "source")
    return ops.dedup_all_columns(docs)


DEDUP_ALL_SQL = "SELECT DISTINCT lang, source FROM documents"


def duplicate_groups_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group report on documents (lang, source) pairs."""
    return ops.duplicate_groups(
        read_table(spark, sf_dir, "documents"), ["lang", "source"]
    )


DUP_GROUPS_SQL = """
SELECT lang, source, COUNT(*) AS dup_count
FROM documents GROUP BY lang, source HAVING COUNT(*) > 1
"""


# --- B5/D1/D2: single-pass profiling ---------------------------------------

def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass null/distinct profile (replaces the reference's 80-job loop)."""
    return ops.profile(read_table(spark, sf_dir, "documents"))


PROFILE_SQL = """
SELECT 'doc_id' AS "column", COUNT(*) AS total_count,
       COUNT(*) FILTER (WHERE doc_id IS NULL) AS null_count,
       COUNT(DISTINCT doc_id) AS distinct_count FROM documents
UNION ALL
SELECT 'text', COUNT(*), COUNT(*) FILTER (WHERE text IS NULL),
       COUNT(DISTINCT text) FROM documents
UNION ALL
SELECT 'lang', COUNT(*), COUNT(*) FILTER (WHERE lang IS NULL),
       COUNT(DISTINCT lang) FROM documents
UNION ALL
SELECT 'source', COUNT(*), COUNT(*) FILTER (WHERE source IS NULL),
       COUNT(DISTINCT source) FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*), COUNT(*) FILTER (WHERE n_chars IS NULL),
       COUNT(DISTINCT n_chars) FROM documents
"""


# --- B4: placeholder normalization ------------------------------------------

def normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim + placeholder->null on string columns, types preserved."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return ops.normalize_placeholders(docs)


NORMALIZE_SQL = """
SELECT
  doc_id,
  CASE WHEN trim(lang) IN ('NULL','Null','null','') THEN NULL ELSE trim(lang) END AS lang,
  CASE WHEN trim(source) IN ('NULL','Null','null','') THEN NULL ELSE trim(source) END AS source,
  n_chars
FROM documents
"""


# --- G1: union by name -------------------------------------------------------

def union_by_name_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-tolerant union: customers ∪ suppliers with disjoint extras."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("party_name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"),
        F.col("s_name").alias("party_name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return ops.union_by_name(cust, supp)


UNION_BY_NAME_SQL = """
SELECT c_custkey AS party_key, c_name AS party_name, c_nationkey AS nationkey,
       c_mktsegment AS mktsegment, NULL::DOUBLE AS acctbal
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_nationkey, NULL, s_acctbal
FROM supplier
"""


# --- F: top-k ---------------------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by totalprice (TakeOrderedAndProject plan)."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return ops.top_k(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)


TOPK_ORDERS_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ranking window."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return ops.top_k_per_group(
        orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3
    )


TOPK_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
FROM orders
QUALIFY rank <= 3
"""


# --- E: analytic window (net-new surface, SURVEY §2 E) -----------------------

def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order value per customer over order date."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


RUNNING_REVENUE_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


# --- C: anti join ------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no URGENT-priority order."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return ops.anti_join(cust, urgent, ["c_custkey"])


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


# --- K1: merge-dedup upsert ---------------------------------------------------

def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge operator's relational core, checked as a query.

    'existing' = orders with orderkey % 3 == 0 (tagged batch=1);
    'incoming' = orders with orderkey % 2 == 0 (tagged batch=2).
    Incoming wins on overlap (orderkey % 6 == 0 → batch 2 survives).
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    existing = orders.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "batch", F.lit(1)
    )
    incoming = orders.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "batch", F.lit(2)
    )
    return ops.merge_dataframes(existing, incoming, ["o_orderkey"])


MERGE_UPSERT_SQL = """
WITH existing AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 1 AS batch
  FROM orders WHERE o_orderkey % 3 = 0
), incoming AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 2 AS batch
  FROM orders WHERE o_orderkey % 2 = 0
), unioned AS (
  SELECT *, 0 AS prio FROM incoming
  UNION ALL
  SELECT *, 1 AS prio FROM existing
)
SELECT o_orderkey, o_custkey, o_totalprice, batch
FROM unioned
QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY prio) = 1
"""


# --- H4/H5: surrogate keys ----------------------------------------------------

def surrogate_keys_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived sha2-256 dim keys (reference gold-layer pattern)."""
    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        "n_name",
        surrogate_key("n_name").alias("sk_nation"),
        surrogate_key("n_nationkey", "n_name").alias("sk_composite"),
    )


SURROGATE_KEYS_SQL = """
SELECT n_nationkey, n_name,
       sha256(n_name) AS sk_nation,
       sha256(CAST(n_nationkey AS VARCHAR) || '||' || n_name) AS sk_composite
FROM nation
"""


# --- H6-H8: calendar kit ------------------------------------------------------

def calendar_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar decomposition of event timestamps (date-dim pattern)."""
    events = read_table(spark, sf_dir, "events").select("event_id", "ts")
    return with_calendar_parts(events, "ts").drop("ts")


CALENDAR_SQL = """
SELECT event_id,
       CAST(year(ts) AS INTEGER) AS year, CAST(month(ts) AS INTEGER) AS month,
       CAST(dayofmonth(ts) AS INTEGER) AS day, CAST(hour(ts) AS INTEGER) AS hour,
       CAST(minute(ts) AS INTEGER) AS minute,
       CAST(weekofyear(ts) AS INTEGER) AS week_of_year
FROM events
"""


# --- H10: embedded JSON extraction --------------------------------------------

def from_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the events.props JSON-string column."""
    events = read_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "props_parsed", F.from_json(F.col("props"), "k INT")
    )
    return parsed.select(
        "event_id", "event_type", F.col("props_parsed.k").alias("prop_k")
    )


FROM_JSON_SQL = """
SELECT event_id, event_type, CAST(props->>'k' AS INTEGER) AS prop_k
FROM events
"""


QUERIES = {
    "dedup_exact_documents": dedup_exact_documents,
    "dedup_all_columns_documents": dedup_all_columns_documents,
    "duplicate_groups_documents": duplicate_groups_documents,
    "profile_documents": profile_documents,
    "normalize_documents": normalize_documents,
    "union_by_name_parties": union_by_name_parties,
    "topk_orders": topk_orders,
    "topk_orders_per_customer": topk_orders_per_customer,
    "running_customer_revenue": running_customer_revenue,
    "customers_without_orders": customers_without_orders,
    "merge_upsert_orders": merge_upsert_orders,
    "surrogate_keys_nation": surrogate_keys_nation,
    "calendar_events": calendar_events,
    "from_json_events": from_json_events,
}

ORACLES = {
    "dedup_exact_documents": DEDUP_EXACT_SQL,
    "dedup_all_columns_documents": DEDUP_ALL_SQL,
    "duplicate_groups_documents": DUP_GROUPS_SQL,
    "profile_documents": PROFILE_SQL,
    "normalize_documents": NORMALIZE_SQL,
    "union_by_name_parties": UNION_BY_NAME_SQL,
    "topk_orders": TOPK_ORDERS_SQL,
    "topk_orders_per_customer": TOPK_PER_CUSTOMER_SQL,
    "running_customer_revenue": RUNNING_REVENUE_SQL,
    "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "surrogate_keys_nation": SURROGATE_KEYS_SQL,
    "calendar_events": CALENDAR_SQL,
    "from_json_events": FROM_JSON_SQL,
}

# --- I: event-time windowing (streaming mirror, batch-checkable) -------------

def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows — the ``window()``
    expression a stream runs with a watermark, here in batch form so
    the DuckDB oracle can check it."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


WINDOWED_COUNTS_SQL = """
SELECT time_bucket(INTERVAL '1 day', ts::TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
"""

QUERIES["windowed_event_counts"] = windowed_event_counts
ORACLES["windowed_event_counts"] = WINDOWED_COUNTS_SQL


def gap_filled_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event totals on a dense, forward-filled time
    grid (operators/timeseries.py): resample -> per-key sequence/
    explode grid -> left join -> running last(ignorenulls).  Row count
    is types x hours regardless of event sparsity; gap hours carry the
    previous hour's value in ``sum_value_filled`` and is_gap=true."""
    from nasa_asteroid_data_lakehouse_spark.operators import timeseries

    events = read_table(spark, sf_dir, "events")
    hourly = timeseries.resample(
        events,
        "ts",
        ["event_type"],
        [F.round(F.sum("value"), 6).alias("sum_value")],
        interval="1 hour",
    )
    return timeseries.fill_gaps(
        hourly, ["event_type"], "sum_value", interval="1 hour"
    ).orderBy("event_type", "bucket_ts")


GAP_FILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         ROUND(SUM(value), 6) AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, MIN(bucket_ts) AS mn, MAX(bucket_ts) AS mx
  FROM hourly GROUP BY 1
),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
  FROM bounds
)
SELECT g.event_type, g.bucket_ts, h.sum_value,
       last_value(h.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_filled,
       h.sum_value IS NULL AS is_gap
FROM grid g
LEFT JOIN hourly h USING (event_type, bucket_ts)
ORDER BY 1, 2
"""

QUERIES["gap_filled_hourly_events"] = gap_filled_hourly_events
ORACLES["gap_filled_hourly_events"] = GAP_FILL_SQL


def zorder_keys_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve (Z-order) key computation over orders: interleave
    8-bit bucket ranks of o_custkey and o_totalprice, then profile the
    curve (row count + revenue per z-value).  Deterministic modulo /
    width buckets here so DuckDB can mirror the bit arithmetic; the
    table layout path (``VersionedTable.optimize`` via
    lake/zorder.py: zorder_buckets) buckets by approxQuantile rank
    instead.  Pure projection + one hash agg —
    no UDF, no extra shuffle."""
    from nasa_asteroid_data_lakehouse_spark.lake.zorder import morton_interleave

    from nasa_asteroid_data_lakehouse_spark.operators import stats

    # NaN/Inf prices have no width bucket (the cents/floor cast would
    # raise under ANSI and in DuckDB); NULL prices keep their existing
    # NULL-group semantics, so exclude ONLY non-finite values.
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNull() | stats.finite("o_totalprice")
    )
    b1 = (F.col("o_custkey") % 256).cast("long")
    b2 = F.least(F.floor(F.col("o_totalprice") / 2500), F.lit(255)).cast("long")
    return (
        orders.select(morton_interleave([b1, b2], 8).alias("zkey"), "o_totalprice")
        .groupBy("zkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("zkey")
    )


_Z_TERMS = " + ".join(
    f"(((b{j + 1} >> {i}) & 1) << {i * 2 + j})" for j in range(2) for i in range(8)
)

ZORDER_SQL = f"""
WITH b AS (
  SELECT o_totalprice,
         o_custkey % 256 AS b1,
         least(CAST(floor(o_totalprice / 2500) AS BIGINT), 255) AS b2
  FROM orders
  WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
)
SELECT {_Z_TERMS} AS zkey,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM b
GROUP BY 1
ORDER BY zkey
"""

QUERIES["zorder_keys_orders"] = zorder_keys_orders
ORACLES["zorder_keys_orders"] = ZORDER_SQL


# --- C: temporal joins (operators/temporal.py) -----------------------------

def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks the latest view at-or-before its
    timestamp per user (operators/temporal.py:asof_join — union-and-
    window formulation, ONE shuffle on user_id, no join node at all).

    DuckDB's native ASOF JOIN breaks timestamp ties arbitrarily, so the
    oracle uses an explicit rank formulation that mirrors the engine's
    deterministic tiebreak (max ts, then max carried (value, event_id));
    ``value IS NOT NULL`` guards both sides against the per-column
    fill's tearing hazard on null carried values."""
    from nasa_asteroid_data_lakehouse_spark.operators.temporal import asof_join

    events = read_table(spark, sf_dir, "events")
    purchases = events.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", "ts", "event_id", F.col("value").alias("purchase_value"))
    views = events.where(
        (F.col("event_type") == "view") & F.col("value").isNotNull()
    ).select("user_id", "ts", F.col("value").alias("view_value"), F.col("event_id").alias("view_id"))
    joined = asof_join(
        purchases, views, ["user_id"], "ts", "ts", direction="backward"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.round("purchase_value", 6).alias("purchase_value"),
        F.col("ts_right").alias("view_ts"),
        F.round("view_value_right", 6).alias("view_value"),
    ).orderBy("event_id")


ASOF_JOIN_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
v AS (
  SELECT user_id, ts, value AS view_value, event_id AS view_id
  FROM events WHERE event_type = 'view' AND value IS NOT NULL
),
j AS (
  SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
         v.ts AS view_ts, v.view_value,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY v.ts DESC, v.view_value DESC, v.view_id DESC
         ) AS rn
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT event_id, user_id, ts,
       ROUND(purchase_value, 6) AS purchase_value,
       view_ts,
       ROUND(view_value, 6) AS view_value
FROM j
WHERE rn = 1
ORDER BY event_id
"""

QUERIES["asof_join_events"] = asof_join_events
ORACLES["asof_join_events"] = ASOF_JOIN_SQL


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: clicks within one hour AFTER each
    purchase, same user (operators/temporal.py:range_join — equi part
    drives the shuffle, the interval predicate rides the join
    condition; no cross product).  Aggregated per purchase so the
    output is compact and order-free."""
    from nasa_asteroid_data_lakehouse_spark.operators.temporal import range_join

    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("click_value")
    )
    joined = range_join(
        purchases, clicks, ["user_id"], "p_ts", "c_ts",
        lower="0 seconds", upper="1 hour",
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.sum("click_value"), 6).alias("click_value_sum"),
        )
        .orderBy("purchase_id")
    )


RANGE_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id,
       COUNT(*) AS n_clicks,
       ROUND(SUM(c.value), 6) AS click_value_sum
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts
 AND c.ts <= p.ts + INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY 1, 2
ORDER BY purchase_id
"""

QUERIES["range_join_events"] = range_join_events
ORACLES["range_join_events"] = RANGE_JOIN_SQL


# --- skew: salted two-phase aggregation (operators/skew.py) ----------------

def salted_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py:salted_agg):
    phase 1 aggregates per (key, salt-bucket), phase 2 recombines the
    partials — the skew-survival shape for a hot grouping key, where a
    plain groupBy would funnel the hot key through one reducer.
    Algebraic aggregates recombine exactly, so the result is identical
    to the direct groupBy the oracle runs (sums rounded identically on
    both sides)."""
    from nasa_asteroid_data_lakehouse_spark.operators.skew import salted_agg

    orders = read_table(spark, sf_dir, "orders")
    out = salted_agg(
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        {
            "n_orders": ("o_orderkey", F.count, F.sum),
            "revenue_raw": ("o_totalprice", F.sum, F.sum),
            "max_price": ("o_totalprice", F.max, F.max),
        },
        buckets=16,
    )
    return out.select(
        "o_orderpriority",
        "n_orders",
        F.round("revenue_raw", 2).alias("revenue"),
        "max_price",
    ).orderBy("o_orderpriority")


SALTED_AGG_SQL = """
SELECT o_orderpriority,
       COUNT(o_orderkey) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["salted_agg_orders"] = salted_agg_orders
ORACLES["salted_agg_orders"] = SALTED_AGG_SQL


# --- K2: bucketed co-located join (pay the shuffle at write time) ----------

def bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free join via bucketing: orders and customer are written
    ``bucketBy(8, custkey)`` + ``sortBy`` into the session catalog, and
    the join then reads co-bucketed files directly — NO Exchange on
    either join side (asserted in tests/test_scale_features.py).  This
    is the 100 TB co-location pattern: one shuffle at write time,
    amortized over every downstream join on the key.  Result equals the
    plain join the oracle runs; unique table names + DROP in finally
    keep the catalog clean across invocations."""
    import uuid

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    tag = uuid.uuid4().hex[:8]
    t_o, t_c = f"ndl_b_orders_{tag}", f"ndl_b_cust_{tag}"
    (
        orders.select("o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable(t_o)
    )
    (
        customer.select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable(t_c)
    )
    try:
        joined = spark.table(t_o).join(
            spark.table(t_c),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        return (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .orderBy("c_mktsegment")
            .localCheckpoint(eager=True)  # materialize before DROP
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["bucketed_join_orders"] = bucketed_join_orders
ORACLES["bucketed_join_orders"] = BUCKETED_JOIN_SQL
