"""Extended analytical surface: multi-way star joins, grouping sets,
statistical aggregates, pivot, outer joins, subqueries, and the
spark.sql serving path.  All oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: profit by supplier nation and order year.

    6-table join; every dimension (part, supplier, nation) broadcast,
    orders joined on the fact key.  Profit = revenue - retail cost.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    return (
        lineitem.join(
            broadcast(part.where(F.col("p_name").contains("a"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("p_retailprice") * F.col("l_quantity") * 0.6
                ),
                4,
            ).alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.6), 4) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%a%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def _pearson(a: str, b: str):
    """ANSI-total Pearson r: try_divide(covar, sx*sy) over PAIRWISE-
    COMPLETE inputs.  Spark's built-in corr (a) DIVIDE_BY_ZEROs under
    ANSI when a column is constant within a group — DuckDB CORR yields
    NULL — and (b) silently drops NULL pairs, so the stddevs here must
    see only rows where BOTH columns are non-null or mixed-null data
    skews the denominator (caught by the adversarial NULL fixture).
    """
    both = F.col(a).isNotNull() & F.col(b).isNotNull()
    x = F.when(both, F.col(a))
    y = F.when(both, F.col(b))
    return F.try_divide(
        F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y)
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: revenue at (status, priority), (status), ()."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0  -- Spark emits no grouping-set rows on empty input; standard SQL emits the () row
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over (event_type, weekday): all 4 grouping combinations."""
    events = read_table(spark, sf_dir, "events").withColumn(
        "weekday", F.dayofweek("ts")
    )
    return (
        events.cube("event_type", "weekday")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


CUBE_SQL = """
SELECT event_type, weekday, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
FROM (SELECT *, CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday FROM events)
GROUP BY CUBE (event_type, weekday)
HAVING COUNT(*) > 0  -- empty-input alignment, see ROLLUP_SQL
"""


def stats_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate kit: stddev, variance, exact median,
    correlation, covariance per market segment."""
    from nasa_asteroid_data_lakehouse_spark.operators import stats

    cust = read_table(spark, sf_dir, "customer")
    # non-finite prices are corrupt records with no moments: one NaN
    # makes every stddev/var/corr NaN (and DuckDB's STDDEV_SAMP
    # raises), so the measure contract filters them like NULLs
    # (operators/stats.finite); NULL rows keep their existing
    # aggregate-ignores-NULL semantics.
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNull() | stats.finite("o_totalprice")
    )
    joined = orders.join(
        broadcast(cust.select("c_custkey", "c_mktsegment", "c_acctbal")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("price_median"),
            F.round(_pearson("o_totalprice", "c_acctbal"), 6).alias(
                "price_acctbal_corr"
            ),
            F.round(F.covar_samp("o_totalprice", "c_acctbal"), 2).alias("price_acctbal_covar"),
        )
        .orderBy("c_mktsegment")
    )


STATS_SQL = """
SELECT c_mktsegment,
       ROUND(stddev_samp(o_totalprice), 4) AS price_stddev,
       ROUND(var_samp(o_totalprice), 2) AS price_var,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS price_median,
       ROUND(corr(o_totalprice, c_acctbal), 6) AS price_acctbal_corr,
       ROUND(covar_samp(o_totalprice, c_acctbal), 2) AS price_acctbal_covar
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily counts per event type as columns."""
    events = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("day")
    )


PIVOT_SQL = """
SELECT CAST(ts AS DATE) AS day,
  COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
  COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
  COUNT(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY 1
ORDER BY day
"""


def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: customer count vs supplier count per nation key
    (nations can have either, both, or neither)."""
    cust = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cust.join(supp, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
           FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
           FROM supplier GROUP BY 1)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


def above_segment_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern: orders above their customer
    segment's average order value (decorrelated via window avg)."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = read_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    joined = orders.join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment")
    return (
        joined.withColumn("seg_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("seg_avg") * 1.5)
        .select(
            "o_orderkey", "c_mktsegment", "o_totalprice",
            F.round("seg_avg", 4).alias("seg_avg"),
        )
    )


ABOVE_AVG_SQL = """
WITH j AS (
  SELECT o_orderkey, c_mktsegment, o_totalprice,
         AVG(o_totalprice) OVER (PARTITION BY c_mktsegment) AS seg_avg
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT o_orderkey, c_mktsegment, o_totalprice, ROUND(seg_avg, 4) AS seg_avg
FROM j WHERE o_totalprice > seg_avg * 1.5
"""


def sql_serving_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving path: tables registered as temp views, query written
    in SQL (replaces the reference's Streamlit/DuckDB catalog page —
    reference ``src/streamlit_app.py:35-53``)."""
    for name in ("orders", "customer", "nation"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        """
    )


SQL_SERVING_SQL = """
SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


QUERIES = {
    "q9_profit_by_nation_year": q9_profit_by_nation_year,
    "rollup_revenue": rollup_revenue,
    "cube_event_stats": cube_event_stats,
    "stats_by_segment": stats_by_segment,
    "pivot_event_types": pivot_event_types,
    "full_outer_nation_activity": full_outer_nation_activity,
    "above_segment_average_orders": above_segment_average_orders,
    "sql_serving_revenue": sql_serving_revenue,
}

ORACLES = {
    "q9_profit_by_nation_year": Q9_SQL,
    "rollup_revenue": ROLLUP_SQL,
    "cube_event_stats": CUBE_SQL,
    "stats_by_segment": STATS_SQL,
    "pivot_event_types": PIVOT_SQL,
    "full_outer_nation_activity": FULL_OUTER_SQL,
    "above_segment_average_orders": ABOVE_AVG_SQL,
    "sql_serving_revenue": SQL_SERVING_SQL,
}


def session_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session windows (30-min inactivity gap) via the built-in
    ``session_window`` expression; oracle mirrors it with the
    lag+cumulative-sum session numbering."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


SESSION_WINDOWS_SQL = """
WITH o AS (
  SELECT user_id, ts::TIMESTAMP AS ts, value,
    CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP)
              OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT MIN(ts) AS session_start, user_id,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sess
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (training-data keyword surface).

    Explode normalized tokens -> TF per (doc, term) -> DF per term ->
    idf = ln((N+1)/(df+1)) + 1 -> windowed top-3.  Shuffle keys: term
    for the DF aggregation (broadcast back), doc for the ranking.
    """
    from nasa_asteroid_data_lakehouse_spark.llm.text import normalized_text, tokens
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select(
        "doc_id", F.explode(tokens(normalized_text("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(broadcast(df_counts), "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf",
                F.col("rank").cast("int").alias("rank"))
    )


TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
  WHERE trim(text) <> ''  -- blank docs tokenize to NO terms (engine
                          -- returns []; string_split('') would give [''])
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfc USING (term), n
)
SELECT doc_id, term, tf, df, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3
"""


def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors via posexplode +
    groupBy — the JVM-side building block the IVF quantizer uses.
    Operator semantics, so the module vector contract applies: an
    invalid vector (NULL, or any NaN/Inf/NULL component) votes in no
    centroid — one NaN would poison a whole dimension's mean."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))
    )
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


CENTROIDS_SQL = """
SELECT label, i - 1 AS dim, ROUND(AVG(embedding[i]), 6) AS centroid_val
FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
WHERE embedding IS NOT NULL
  AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
GROUP BY 1, 2
"""

QUERIES.update(
    {
        "session_windows_events": session_windows_events,
        "tfidf_top_terms": tfidf_top_terms,
        "embedding_centroids_by_label": embedding_centroids_by_label,
    }
)
ORACLES.update(
    {
        "session_windows_events": SESSION_WINDOWS_SQL,
        "tfidf_top_terms": TFIDF_SQL,
        "embedding_centroids_by_label": CENTROIDS_SQL,
    }
)


def star_build_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold-layer pattern (reference ``src/etl/silver_to_gold.py``)
    exercised on the fixture tables: build a date dimension with
    content-derived sha2 keys from orders, recompute the key on the
    fact side, join back, and aggregate — proving dims and facts built
    independently still join (the property the reference's design
    depends on)."""
    from nasa_asteroid_data_lakehouse_spark.functions import surrogate_key

    orders = read_table(spark, sf_dir, "orders")
    dim_date = (
        orders.select(F.to_date("o_orderdate").alias("order_date"))
        .na.drop()
        .distinct()
        .select(
            "order_date",
            F.year("order_date").alias("year"),
            F.month("order_date").alias("month"),
            F.weekofyear("order_date").alias("week_of_year"),
            surrogate_key(F.col("order_date").cast("string")).alias("sk_date"),
        )
    )
    fact = orders.select(
        surrogate_key(F.to_date("o_orderdate").cast("string")).alias("sk_date"),
        "o_totalprice",
    )
    return (
        fact.join(broadcast(dim_date), "sk_date")
        .groupBy("year", "month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("year", "month")
    )


STAR_ROUNDTRIP_SQL = """
WITH dim_date AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date,
         CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(month(o_orderdate) AS INTEGER) AS month,
         CAST(weekofyear(o_orderdate) AS INTEGER) AS week_of_year,
         sha256(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')) AS sk_date
  FROM orders WHERE o_orderdate IS NOT NULL
),
fact AS (
  SELECT sha256(strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')) AS sk_date,
         o_totalprice
  FROM orders
)
SELECT year, month, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
FROM fact JOIN dim_date USING (sk_date)
GROUP BY year, month
ORDER BY year, month
"""

QUERIES["star_build_roundtrip"] = star_build_roundtrip
ORACLES["star_build_roundtrip"] = STAR_ROUNDTRIP_SQL


def purchases_after_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (absent from the reference — SURVEY §2 C): purchases
    within 1 hour after a click by the same user."""
    from nasa_asteroid_data_lakehouse_spark.operators.temporal import range_join

    events = read_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return range_join(
        clicks, purchases, ["user_id"], "click_ts", "purchase_ts",
        lower="0 seconds", upper="1 hour",
    ).select("user_id", "click_id", "purchase_id")


RANGE_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts::TIMESTAMP >= c.ts::TIMESTAMP
 AND p.ts::TIMESTAMP <= c.ts::TIMESTAMP + INTERVAL 1 HOUR
"""


def last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: for each purchase, the same user's most
    recent click at or before the purchase."""
    from nasa_asteroid_data_lakehouse_spark.operators.temporal import asof_join

    events = read_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    out = asof_join(purchases, clicks, ["user_id"], "p_ts", "c_ts")
    return out.select("user_id", "purchase_id", "click_id_right", "c_ts_right")


ASOF_SQL = """
WITH p AS (SELECT user_id, event_id AS purchase_id, ts::TIMESTAMP AS p_ts
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, event_id AS click_id, ts::TIMESTAMP AS c_ts
           FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id,
       (SELECT c.click_id FROM c
        WHERE c.user_id = p.user_id AND c.c_ts <= p.p_ts
        ORDER BY c.c_ts DESC, c.click_id DESC LIMIT 1) AS click_id_right,
       (SELECT c.c_ts FROM c
        WHERE c.user_id = p.user_id AND c.c_ts <= p.p_ts
        ORDER BY c.c_ts DESC, c.click_id DESC LIMIT 1) AS c_ts_right
FROM p
"""


def pack_documents_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: deterministic 2048-token training bins per lang."""
    from nasa_asteroid_data_lakehouse_spark.llm.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    return pack_documents(
        docs, budget=2048, partition_cols=["lang"]
    )


PACKING_SQL = r"""
WITH toks AS (
  SELECT lang, doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT lang, doc_id, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS pack_id,
       CAST((cum_tokens - n_tokens) % 2048 AS BIGINT) AS pack_offset
FROM c
"""

QUERIES.update(
    {
        "purchases_after_clicks": purchases_after_clicks,
        "last_click_before_purchase": last_click_before_purchase,
        "pack_documents_for_training": pack_documents_for_training,
    }
)
ORACLES.update(
    {
        "purchases_after_clicks": RANGE_JOIN_SQL,
        "last_click_before_purchase": ASOF_SQL,
        "pack_documents_for_training": PACKING_SQL,
    }
)


def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2 G2): nations with customers INTERSECT /
    EXCEPT nations with suppliers, tagged and unioned."""
    from nasa_asteroid_data_lakehouse_spark.operators.setops import (
        except_rows,
        intersect_rows,
    )

    cust_nations = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_nations = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = intersect_rows(cust_nations, supp_nations).withColumn(
        "relation", F.lit("both")
    )
    cust_only = except_rows(cust_nations, supp_nations).withColumn(
        "relation", F.lit("customers_only")
    )
    return both.unionByName(cust_only)


SET_OPS_SQL = """
SELECT nationkey, 'both' AS relation FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'customers_only' AS relation FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT s_nationkey FROM supplier
)
"""


def sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface subqueries through spark.sql: scalar subquery in a
    projection, IN-subquery and correlated EXISTS in the predicate —
    Catalyst decorrelates all three; the oracle runs the same text."""
    for name in ("orders", "customer"):
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(SQL_SUBQUERIES_SQL)


SQL_SUBQUERIES_SQL = """
SELECT c_custkey, c_name,
       ROUND(c_acctbal - (SELECT AVG(c_acctbal) FROM customer), 4) AS bal_vs_avg
FROM customer
WHERE c_nationkey IN (SELECT c_nationkey FROM customer GROUP BY 1 HAVING COUNT(*) >= 5)
  AND EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""

QUERIES.update(
    {
        "nation_set_ops": nation_set_ops,
        "sql_subqueries": sql_subqueries,
    }
)
ORACLES.update(
    {
        "nation_set_ops": SET_OPS_SQL,
        "sql_subqueries": SQL_SUBQUERIES_SQL,
    }
)


# --- histogram + unpivot ------------------------------------------------------


def price_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equal-width histogram of order prices: the bucket id
    is pure integer arithmetic (floor((x-lo)/step), clamped) so both
    engines bin identically — width_bucket exists in Spark but not
    DuckDB, and a portable expression beats two dialects.  One
    partial-aggregated shuffle regardless of row count."""
    lo, hi, nb = 0.0, 500_000.0, 20
    step = (hi - lo) / nb
    from nasa_asteroid_data_lakehouse_spark.operators import stats

    # non-finite prices have no bucket (Spark's floor(NaN) lands in
    # bucket 0 while DuckDB's NaN-is-greatest clamps to the top —
    # divergent garbage either way); NULL prices keep their NULL-group
    # row on both engines.
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNull() | stats.finite("o_totalprice")
    )
    bucket = F.least(
        F.greatest(F.floor((F.col("o_totalprice") - lo) / step), F.lit(0)),
        F.lit(nb - 1),
    ).cast("int")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * step, 2))
        .orderBy("bucket")
    )


PRICE_HISTOGRAM_SQL = """
SELECT CAST(least(greatest(floor(o_totalprice / 25000.0), 0), 19) AS INTEGER) AS bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       ROUND(CAST(least(greatest(floor(o_totalprice / 25000.0), 0), 19) AS INTEGER) * 25000.0, 2) AS bucket_lo
FROM orders
WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
GROUP BY 1
ORDER BY 1
"""


def unpivot_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: per-type event aggregates unpivoted into
    (event_type, metric, value) rows via DataFrame.unpivot (Spark's
    melt; plans as a Generate/Expand — no shuffle beyond the agg)."""
    events = read_table(spark, sf_dir, "events")
    wide = events.groupBy("event_type").agg(
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    return (
        wide.unpivot(
            ["event_type"],
            ["sum_value", "avg_value", "n_events"],
            "metric",
            "value",
        )
        .orderBy("event_type", "metric")
    )


UNPIVOT_SQL = """
WITH wide AS (
  SELECT event_type,
         ROUND(SUM(value), 6) AS sum_value,
         ROUND(AVG(value), 6) AS avg_value,
         CAST(COUNT(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1
)
SELECT event_type, metric, value FROM (
  SELECT event_type, 'sum_value' AS metric, sum_value AS value FROM wide
  UNION ALL
  SELECT event_type, 'avg_value', avg_value FROM wide
  UNION ALL
  SELECT event_type, 'n_events', n_events FROM wide
)
ORDER BY 1, 2
"""

QUERIES.update(
    {
        "price_histogram_orders": price_histogram_orders,
        "unpivot_event_stats": unpivot_event_stats,
    }
)
ORACLES.update(
    {
        "price_histogram_orders": PRICE_HISTOGRAM_SQL,
        "unpivot_event_stats": UNPIVOT_SQL,
    }
)


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube special-
    case: exactly (status), (priority), and grand-total groups, plus
    GROUPING_ID to disambiguate which set produced each row (a real
    NULL value vs a superaggregate NULL).  Spark plans one Expand +
    one aggregate — the sets share a single scan and shuffle."""
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*) AS n_orders
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS gid,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
HAVING COUNT(*) > 0  -- empty-input alignment, see ROLLUP_SQL
ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""

QUERIES["grouping_sets_revenue"] = grouping_sets_revenue
ORACLES["grouping_sets_revenue"] = GROUPING_SETS_SQL


def quantiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile vector (p25/p50/p90/p99) of extended price per
    return flag.  Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share linear-interpolation semantics, so the exact form is
    oracle-checkable; at 100 TB swap in the mergeable one-pass sketch
    (``approx_quantiles_lineitem`` below) — exact percentile must
    collect each group's values, the sketch is a fixed-size partial
    aggregate."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9, 0.99))")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(pct[0], 4).alias("p25"),
            F.round(pct[1], 4).alias("p50"),
            F.round(pct[2], 4).alias("p90"),
            F.round(pct[3], 4).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


QUANTILES_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

QUERIES["quantiles_by_returnflag"] = quantiles_by_returnflag
ORACLES["quantiles_by_returnflag"] = QUANTILES_SQL


def approx_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles via ``percentile_approx`` (Greenwald-Khanna
    sketch): fixed-size mergeable partials, one pass, no per-group value
    collection — the form that scales to 100 TB.  The sketch VALUES are
    engine-specific, so the query emits a rank validation instead: it
    re-ranks each returned quantile against the data (one extra
    broadcast-probe pass over lineitem) and outputs booleans asserting
    the GK guarantee (rank error <= n/accuracy, plus slack for value
    duplicates).  DuckDB recomputes group keys + counts exactly and
    expects TRUE flags, so the driver value-hashes the whole result;
    ``quantiles_by_returnflag`` carries the exact-value semantics."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    acc = 10000
    tol = 1.0 / acc + 0.01
    est = lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.99, acc).alias("p99_approx"),
        F.count(F.lit(1)).alias("n"),
    )
    probe = (
        lineitem.select("l_returnflag", "l_extendedprice")
        .join(broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") <= F.col("p50_approx")).cast("long")).alias(
                "le50"
            ),
            F.sum((F.col("l_extendedprice") < F.col("p50_approx")).cast("long")).alias(
                "lt50"
            ),
            F.sum((F.col("l_extendedprice") <= F.col("p99_approx")).cast("long")).alias(
                "le99"
            ),
            F.sum((F.col("l_extendedprice") < F.col("p99_approx")).cast("long")).alias(
                "lt99"
            ),
        )
    )
    # Two-sided rank check, correct under ties: a value m is a valid
    # q-quantile iff P(X < m) <= q <= P(X <= m).  The one-sided
    # le/n-in-a-band form wrongly fails when the data is discrete or
    # constant (ties make the empirical CDF jump across the band —
    # all-equal values give le/n = 1.0 at the exact median).  tol
    # carries the GK sketch's rank-error bound, slack the 1/n CDF
    # step.
    slack = F.lit(1.0) / F.col("n")
    lo50 = F.col("lt50") / F.col("n") <= 0.5 + tol + slack
    hi50 = F.col("le50") / F.col("n") >= 0.5 - tol - slack
    lo99 = F.col("lt99") / F.col("n") <= 0.99 + tol + slack
    hi99 = F.col("le99") / F.col("n") >= 0.99 - tol - slack
    return (
        est.join(probe, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            (lo50 & hi50).alias("p50_rank_ok"),
            (lo99 & hi99).alias("p99_rank_ok"),
        )
        .orderBy("l_returnflag")
    )


APPROX_QUANTILES_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       TRUE AS p50_rank_ok,
       TRUE AS p99_rank_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

QUERIES["approx_quantiles_lineitem"] = approx_quantiles_lineitem
ORACLES["approx_quantiles_lineitem"] = APPROX_QUANTILES_SQL


def winsorized_prices_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization applied per market segment (operators/robust.py,
    exact bounds so DuckDB reproduces them): clip order prices to the
    [p01, p99] band, report raw vs clipped means and clip counts.  The
    bounds table is segment-cardinality sized and broadcast — the
    orders side never shuffles for the join."""
    from nasa_asteroid_data_lakehouse_spark.operators.robust import winsorize

    from nasa_asteroid_data_lakehouse_spark.operators import stats

    cust = read_table(spark, sf_dir, "customer")
    # measure contract: non-finite prices have no quantile rank (the
    # two engines disagree on where NaN sorts within quantile_cont),
    # so they filter like NULLs; NULL rows keep their existing
    # percentile-ignores-NULL semantics.
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNull() | stats.finite("o_totalprice")
    )
    joined = orders.join(
        broadcast(cust.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("c_mktsegment", "o_totalprice")
    w = winsorize(joined, "o_totalprice", ["c_mktsegment"], 0.01, 0.99, exact=True)
    return (
        w.groupBy("c_mktsegment")
        .agg(
            F.round(F.min("o_totalprice_lo"), 4).alias("p01"),
            F.round(F.max("o_totalprice_hi"), 4).alias("p99"),
            F.sum((F.col("o_totalprice") < F.col("o_totalprice_lo")).cast("int")).alias("n_clipped_low"),
            F.sum((F.col("o_totalprice") > F.col("o_totalprice_hi")).cast("int")).alias("n_clipped_high"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_raw"),
            F.round(F.avg("o_totalprice_winsorized"), 4).alias("avg_winsorized"),
        )
        .orderBy("c_mktsegment")
    )


WINSORIZE_SQL = """
WITH joined AS (
  SELECT c_mktsegment, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
),
bounds AS (
  SELECT c_mktsegment,
         quantile_cont(o_totalprice, 0.01) AS lo,
         quantile_cont(o_totalprice, 0.99) AS hi
  FROM joined GROUP BY 1
)
SELECT j.c_mktsegment,
       ROUND(MIN(lo), 4) AS p01,
       ROUND(MAX(hi), 4) AS p99,
       CAST(SUM(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       ROUND(AVG(o_totalprice), 4) AS avg_raw,
       ROUND(AVG(least(greatest(o_totalprice, lo), hi)), 4) AS avg_winsorized
FROM joined j JOIN bounds b USING (c_mktsegment)
GROUP BY 1
ORDER BY c_mktsegment
"""

QUERIES["winsorized_prices_by_segment"] = winsorized_prices_by_segment
ORACLES["winsorized_prices_by_segment"] = WINSORIZE_SQL


def decile_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking kit: ntile(10) deciles of order price within each
    priority class, plus percent_rank / cume_dist at each decile's top
    edge.  The window's order is total (price, then key) so both
    engines assign identical deciles; percent_rank and cume_dist are
    single integer-quotient IEEE ops, bit-identical across engines, so
    they ship unrounded.  Sums are rounded on the cent lattice; the avg
    ships raw (see ROUND_NOTES on quotient rounding portability).

    Scale note: ntile partitions here are the 5 priority classes — at
    100 TB a global decile should come from percentile_approx bounds
    (operators/robust.py) instead of a 5-partition sort; this query is
    the within-group ranking surface.

    NULL prices are excluded on BOTH sides before ranking: deciles of a
    NULL metric are undefined, and the engines disagree on where NULLs
    sort by default (Spark NULLS FIRST, DuckDB NULLS LAST) — the
    adversarial gate caught the shifted decile assignment."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("price_min"),
            F.max("o_totalprice").alias("price_max"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            F.avg("o_totalprice").alias("price_avg"),
            F.max("pr").alias("max_percent_rank"),
            F.max("cd").alias("max_cume_dist"),
        )
        .orderBy("o_orderpriority", "decile")
    )


DECILE_SQL = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS decile,
         percent_rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS pr,
         cume_dist() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS cd
  FROM orders
  WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority, decile,
       COUNT(*) AS n,
       MIN(o_totalprice) AS price_min,
       MAX(o_totalprice) AS price_max,
       ROUND(SUM(o_totalprice), 2) AS price_sum,
       AVG(o_totalprice) AS price_avg,
       MAX(pr) AS max_percent_rank,
       MAX(cd) AS max_cume_dist
FROM ranked
GROUP BY o_orderpriority, decile
ORDER BY o_orderpriority, decile
"""

QUERIES["decile_stats_orders"] = decile_stats_orders
ORACLES["decile_stats_orders"] = DECILE_SQL


def sketch_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch segment profile (operators/sketches.py): per
    order-priority HLL distinct-customer and KLL price-quantile
    estimates, plus an ALL row computed by MERGING the per-segment
    sketches — never rescanning orders.  DataSketches estimate VALUES
    are engine-specific, so the query emits the driver-checkable
    derivation instead: exact keys/counts (which DuckDB recomputes)
    plus booleans asserting each estimate sits inside its published
    error band — HLL lg_k=12 (~1.6% rse, 3-sigma band used) and the
    KLL p50 re-ranked against the data.  Tight bands are unit-tested
    in tests/test_scale_features.py."""
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    orders = read_table(spark, sf_dir, "orders")
    per = sk.segment_sketches(orders, "o_orderpriority", "o_custkey", "o_totalprice")
    est_seg = sk.estimate_segments(per).select(
        F.col("o_orderpriority").alias("segment"), "n_rows", "distinct_est", "p50_est"
    )
    est_all = sk.rollup_sketches(per).select(
        F.lit("ALL").alias("segment"), "n_rows", "distinct_est", "p50_est"
    )
    est = est_seg.unionByName(est_all)

    # Exact per-segment + grand-total distinct counts in ONE pass
    # (rollup grouping set), the values DuckDB re-derives.
    exact = (
        orders.rollup("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("distinct_exact"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("segment"),
            "distinct_exact",
        )
    )
    # Rank-validate the KLL p50: count how many prices fall at or below
    # each segment's estimate (ALL probes every row).  est is
    # segment-cardinality sized, so the probe join broadcasts.
    probe = (
        orders.select("o_orderpriority", "o_totalprice")
        .join(
            broadcast(est.select("segment", "p50_est")),
            (F.col("segment") == F.col("o_orderpriority"))
            | (F.col("segment") == F.lit("ALL")),
        )
        .groupBy("segment")
        .agg(
            F.sum((F.col("o_totalprice") <= F.col("p50_est")).cast("long")).alias(
                "le50"
            ),
            F.sum((F.col("o_totalprice") < F.col("p50_est")).cast("long")).alias(
                "lt50"
            ),
            F.count(F.lit(1)).alias("n_probe"),
        )
    )
    # KLL default k=200 -> ~1.65% single-sided rank error at 99% conf.
    # Two-sided rank check, correct under ties (see
    # approx_quantiles_lineitem): valid median iff P(X < m) <= 0.5 <=
    # P(X <= m), each side widened by the sketch band + 1/n CDF step.
    slack = F.lit(1.0) / F.col("n_probe")
    rel = F.abs(F.col("distinct_est") - F.col("distinct_exact")) / F.col(
        "distinct_exact"
    )
    return (
        est.join(broadcast(exact), "segment")
        .join(broadcast(probe), "segment")
        .select(
            "segment",
            "n_rows",
            "distinct_exact",
            (rel <= 0.05).alias("distinct_est_ok"),
            (
                (F.col("lt50") / F.col("n_probe") <= 0.55 + slack)
                & (F.col("le50") / F.col("n_probe") >= 0.45 - slack)
            ).alias("p50_rank_ok"),
        )
        .orderBy("segment")
    )


SKETCH_ROLLUP_SQL = """
SELECT o_orderpriority AS segment,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT o_custkey) AS distinct_exact,
       TRUE AS distinct_est_ok,
       TRUE AS p50_rank_ok
FROM orders
GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL', COUNT(*), COUNT(DISTINCT o_custkey), TRUE, TRUE
FROM orders
HAVING COUNT(*) > 0  -- empty-input alignment: no sketches -> no ALL row
ORDER BY segment
"""

QUERIES["sketch_rollup_orders"] = sketch_rollup_orders
ORACLES["sketch_rollup_orders"] = SKETCH_ROLLUP_SQL

def theta_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch segment overlap (operators/sketches.py): which
    customers are shared between order priorities, estimated from
    per-segment Theta sketches alone — intersection / union /
    difference are sketch-algebra, so a persisted sketch table answers
    audience-overlap questions without rescanning orders.  Sketch
    estimate VALUES are engine-specific, so the query emits exact
    overlap counts (which DuckDB re-derives) plus booleans asserting
    each estimate sits inside its error band (lg_k=12 -> ~1.6% rse;
     5%-of-union + 5 absolute slack covers intersection error
    amplification at 3 sigma).  Below ~4096 distinct keys the sketch
    is in exact mode and the estimates are exact."""
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    orders = read_table(spark, sf_dir, "orders")
    per = sk.segment_theta_sketches(orders, "o_orderpriority", "o_custkey")
    est = sk.theta_overlap_matrix(per, "o_orderpriority")

    seg = orders.select(F.col("o_orderpriority").alias("seg"), "o_custkey").distinct()
    sizes = seg.groupBy("seg").agg(F.count(F.lit(1)).alias("n_keys"))
    a = seg.select(F.col("seg").alias("seg_a"), "o_custkey")
    b = seg.select(F.col("seg").alias("seg_b"), "o_custkey")
    exact = (
        a.join(b, "o_custkey")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("intersection_exact"))
    )
    joined = (
        est.join(broadcast(exact), ["seg_a", "seg_b"], "left")
        .na.fill({"intersection_exact": 0})
        .join(
            broadcast(sizes.select(F.col("seg").alias("seg_a"), F.col("n_keys").alias("n_a"))),
            "seg_a",
        )
        .join(
            broadcast(sizes.select(F.col("seg").alias("seg_b"), F.col("n_keys").alias("n_b"))),
            "seg_b",
        )
        .withColumn(
            "union_exact", F.col("n_a") + F.col("n_b") - F.col("intersection_exact")
        )
        .withColumn("band", F.lit(5.0) + 0.05 * F.col("union_exact"))
    )

    def ok(est_col: str, exact_col) -> F.Column:
        return F.abs(F.col(est_col) - exact_col) <= F.col("band")

    return joined.select(
        "seg_a",
        "seg_b",
        "intersection_exact",
        "union_exact",
        ok("intersection_est", F.col("intersection_exact")).alias("inter_est_ok"),
        ok("union_est", F.col("union_exact")).alias("union_est_ok"),
        ok("a_minus_b_est", F.col("n_a") - F.col("intersection_exact")).alias(
            "diff_est_ok"
        ),
    ).orderBy("seg_a", "seg_b")


THETA_OVERLAP_SQL = """
WITH seg AS (SELECT DISTINCT o_orderpriority AS s, o_custkey FROM orders),
sizes AS (SELECT s, COUNT(*) AS n FROM seg GROUP BY s),
inter AS (
  SELECT a.s AS seg_a, b.s AS seg_b, COUNT(*) AS intersection_exact
  FROM seg a JOIN seg b USING (o_custkey)
  WHERE a.s < b.s
  GROUP BY 1, 2
)
SELECT sa.s AS seg_a, sb.s AS seg_b,
       COALESCE(i.intersection_exact, 0) AS intersection_exact,
       sa.n + sb.n - COALESCE(i.intersection_exact, 0) AS union_exact,
       TRUE AS inter_est_ok,
       TRUE AS union_est_ok,
       TRUE AS diff_est_ok
FROM sizes sa
JOIN sizes sb ON sa.s < sb.s
LEFT JOIN inter i ON i.seg_a = sa.s AND i.seg_b = sb.s
ORDER BY seg_a, seg_b
"""

QUERIES["theta_overlap_orders"] = theta_overlap_orders
ORACLES["theta_overlap_orders"] = THETA_OVERLAP_SQL


def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history (operators/scd.py): compress each user's
    event-type stream into validity intervals — one row per run of
    consecutive identical event types, with valid_from/valid_to/
    version/is_current.  The reference's gold merge is Type-1
    (`src/utils/bucket.py:63-89`, one surviving row per key); this is
    the history-preserving upgrade a dimensional model needs.
    Ordering tie-broken on event_id for determinism.
    """
    from nasa_asteroid_data_lakehouse_spark.operators.scd import scd2_compress

    events = read_table(spark, sf_dir, "events")
    return scd2_compress(
        events,
        keys=["user_id"],
        attr_col="event_type",
        ts_col="ts",
        tiebreak=["event_id"],
    ).orderBy("user_id", "version")


SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1 THEN 1
              WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
), collapsed AS (
  SELECT user_id, run, any_value(event_type) AS event_type,
         MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       CAST(run AS INTEGER) AS version,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM collapsed
WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
ORDER BY user_id, version
"""


def anomaly_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (operators/timeseries.py):
    daily event counts per type scored against the trailing-7-day
    baseline (strictly historical frame — no self-contamination).
    Net-new: the reference's only quality checks are static null/
    distinct profiles (`src/etl/bronze_to_silver.py:127-143`).
    """
    from nasa_asteroid_data_lakehouse_spark.operators.timeseries import (
        resample,
        rolling_zscore,
    )

    events = read_table(spark, sf_dir, "events")
    daily = resample(
        events, "ts", ["event_type"], [F.count(F.lit(1)).alias("n")], "1 day"
    )
    scored = rolling_zscore(
        daily, ["event_type"], "bucket_ts", "n", lookback=7
    )
    return scored.select(
        "event_type",
        F.col("bucket_ts").alias("day"),
        "n",
        F.round("baseline_mean", 4).alias("baseline_mean"),
        F.round("baseline_std", 4).alias("baseline_std"),
        F.round("zscore", 3).alias("zscore"),
        F.coalesce(F.abs(F.col("zscore")) > 2, F.lit(False)).alias("is_anomaly"),
    ).orderBy("event_type", "day")


ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, day, n,
         AVG(n) OVER w AS m,
         STDDEV_SAMP(n) OVER w AS s
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n,
       ROUND(m, 4) AS baseline_mean,
       ROUND(s, 4) AS baseline_std,
       ROUND(CASE WHEN s > 0 THEN (n - m) / s END, 3) AS zscore,
       COALESCE(ABS(CASE WHEN s > 0 THEN (n - m) / s END) > 2, FALSE)
         AS is_anomaly
FROM scored
ORDER BY event_type, day
"""


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: signup -> view -> click ->
    purchase, each step within 24h of the previous.  Classic product-
    analytics shape the reference's star schema is meant to serve but
    never implements (zero joins, SURVEY.md §2.C).

    Plan: each step's frontier is min-per-user aggregated then
    broadcast into the next step's filter — at scale the frontier is
    |users| rows (tiny vs events), so every step is a broadcast hash
    join; the events table is scanned once per step with the
    event_type filter pushed to parquet.
    """
    events = read_table(spark, sf_dir, "events")

    # Each step frontier is localCheckpoint-ed: the count-union below
    # replans every branch's full lineage, so without the cut a k-step
    # funnel scans the fact table O(k²) times (step j recomputed by
    # every later branch).  Frontiers are ≤ |users| rows — cheap to pin.
    def step(prev: DataFrame, etype: str, prev_ts: str, out_ts: str) -> DataFrame:
        return (
            events.where(F.col("event_type") == etype)
            .join(broadcast(prev), "user_id")
            .where(
                (F.col("ts") > F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + F.expr("INTERVAL 24 HOURS"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
            .localCheckpoint(eager=False)
        )

    s1 = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    s2 = step(s1, "view", "t1", "t2")
    s3 = step(s2, "click", "t2", "t3")
    s4 = step(s3, "purchase", "t3", "t4")

    def count_step(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(no).alias("step_no"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).alias("users"),
        )

    return (
        count_step(s1, 1, "signup")
        .unionByName(count_step(s2, 2, "view_24h"))
        .unionByName(count_step(s3, 3, "click_24h"))
        .unionByName(count_step(s4, 4, "purchase_24h"))
        .orderBy("step_no")
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
  WHERE event_type = 'view' AND ts > t1 AND ts <= t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
  WHERE event_type = 'click' AND ts > t2 AND ts <= t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, MIN(ts) AS t4 FROM events e JOIN s3 USING (user_id)
  WHERE event_type = 'purchase' AND ts > t3 AND ts <= t3 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT 1 AS step_no, 'signup' AS step, (SELECT COUNT(*) FROM s1) AS users
UNION ALL
SELECT 2, 'view_24h', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'click_24h', (SELECT COUNT(*) FROM s3)
UNION ALL
SELECT 4, 'purchase_24h', (SELECT COUNT(*) FROM s4)
ORDER BY step_no
"""


def regression_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics kit per return flag: Pearson correlation,
    OLS slope/intercept/R², and sample covariance of extendedprice on
    quantity — the SQL-standard REGR_* family (net-new; the
    reference's aggregate surface is count/distinct only, SURVEY.md
    §2.D).  Single hash-aggregate pass: all six moments come from one
    shuffle on the group key with map-side partial aggregation.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_pearson("l_extendedprice", "l_quantity"), 6).alias(
                "corr_pq"
            ),
            F.round(
                F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")), 4
            ).alias("slope"),
            F.round(
                F.regr_intercept(F.col("l_extendedprice"), F.col("l_quantity")), 4
            ).alias("intercept"),
            F.round(
                F.regr_r2(F.col("l_extendedprice"), F.col("l_quantity")), 6
            ).alias("r2"),
            F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
                "covar_pq"
            ),
        )
        .orderBy("l_returnflag")
    )


REGRESSION_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_pq,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
       ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS covar_pq
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (operators/entity.py): near-identical part
    names found by canonicalize-to-vocabulary + block-on-noun +
    levenshtein.  The quadratic step runs on the distinct-name
    vocabulary (64 names here; always ≪ rows), never on raw rows —
    the shape that survives 100 TB.
    """
    from nasa_asteroid_data_lakehouse_spark.operators.entity import (
        blocked_fuzzy_pairs,
    )

    part = read_table(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        part,
        name_col="p_name",
        block=F.split(F.col("p_name"), " ").getItem(1),
        min_dist=1,
        max_dist=3,
    ).orderBy("name_a", "name_b")


FUZZY_SQL = """
WITH names AS (
  SELECT p_name AS name, split_part(p_name, ' ', 2) AS block,
         COUNT(*) AS n
  FROM part GROUP BY 1, 2
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS distance,
       a.n AS n_a, b.n AS n_b
FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
ORDER BY name_a, name_b
"""


QUERIES["scd2_user_status"] = scd2_user_status
ORACLES["scd2_user_status"] = SCD2_SQL
QUERIES["anomaly_daily_events"] = anomaly_daily_events
ORACLES["anomaly_daily_events"] = ANOMALY_SQL
QUERIES["funnel_events"] = funnel_events
ORACLES["funnel_events"] = FUNNEL_SQL
QUERIES["regression_stats_lineitem"] = regression_stats_lineitem
ORACLES["regression_stats_lineitem"] = REGRESSION_SQL
QUERIES["fuzzy_part_name_pairs"] = fuzzy_part_name_pairs
ORACLES["fuzzy_part_name_pairs"] = FUZZY_SQL


def file_skipping_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping manifest stats (lake/stats.py) validated end to
    end: write orders Hive-partitioned by priority, collect per-file
    min/max/null envelopes from the ``_metadata`` hidden column in one
    distributed pass, roll files up to partition level, and check the
    envelopes against ground truth computed straight from the table.
    This is the metadata a 100 TB table's manifest keeps so range
    predicates prune files without opening them (file count stays out
    of the output — it depends on the writer's parallelism, not the
    data).
    """
    from nasa_asteroid_data_lakehouse_spark.lake.stats import collect_file_stats

    orders = read_table(spark, sf_dir, "orders")
    with query_scratch("ndl_filestats_", sf_dir, "orders") as tmp:
        orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(tmp)

        # Explicit schema: an empty source writes zero data files and
        # schema inference on the bare directory throws; the read must
        # stay total on empty input (empty in -> empty stats out).
        back = spark.read.schema(orders.schema).parquet(tmp)
        stats = collect_file_stats(
            back, ["o_totalprice"], group_cols=["o_orderpriority"]
        )
        # Materialize the (partition-cardinality sized) result before
        # deleting the scratch directory the lazy plan reads from —
        # otherwise every bench/driver invocation leaks a /tmp copy of
        # orders.
        return (
            stats.groupBy("o_orderpriority")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.min("o_totalprice_min").alias("price_min"),
                F.max("o_totalprice_max").alias("price_max"),
                F.sum("o_totalprice_nulls").alias("price_nulls"),
            )
            .orderBy("o_orderpriority")
            .localCheckpoint(eager=True)
        )


FILE_SKIPPING_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       MIN(o_totalprice) AS price_min,
       MAX(o_totalprice) AS price_max,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS price_nulls
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["file_skipping_stats_orders"] = file_skipping_stats_orders
ORACLES["file_skipping_stats_orders"] = FILE_SKIPPING_SQL


def dq_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/expectations.py): a
    rule suite over orders — row-level constraints compiled into ONE
    scan, plus key-uniqueness (one hash aggregate) and referential
    integrity into customer (broadcast anti-join).  The assertion-
    grade replacement for the reference's 80-job print-only profiling
    (SURVEY.md §4 anti-pattern 1).
    """
    from nasa_asteroid_data_lakehouse_spark.operators import expectations as ex

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")

    row_rules = {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "orderdate_in_range": F.col("o_orderdate").between(
            "1990-01-01", "2005-12-31"
        ),
    }
    report = (
        ex.check(orders, row_rules)
        .unionByName(ex.check_unique(orders, ["o_orderkey"]))
        .unionByName(
            ex.check_ref_integrity(orders, "o_custkey", customer, "c_custkey")
        )
    )
    return report.orderBy("rule")


DQ_REPORT_SQL = """
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
row_rules AS (
  SELECT * FROM (
    SELECT 'orderkey_not_null' AS rule, n_rows,
           (SELECT COUNT(*) FROM orders
            WHERE NOT COALESCE(o_orderkey IS NOT NULL, FALSE)) AS violations
    FROM n
    UNION ALL
    SELECT 'totalprice_positive', n_rows,
           (SELECT COUNT(*) FROM orders
            WHERE NOT COALESCE(o_totalprice > 0, FALSE))
    FROM n
    UNION ALL
    SELECT 'status_in_domain', n_rows,
           (SELECT COUNT(*) FROM orders
            WHERE NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE))
    FROM n
    UNION ALL
    SELECT 'orderdate_in_range', n_rows,
           (SELECT COUNT(*) FROM orders
            WHERE NOT COALESCE(o_orderdate BETWEEN '1990-01-01' AND '2005-12-31',
                               FALSE))
    FROM n
  )
),
uniq AS (
  SELECT 'unique(o_orderkey)' AS rule,
         (SELECT n_rows FROM n) AS n_rows,
         CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS violations
  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
),
ref AS (
  SELECT 'ref(o_custkey->c_custkey)' AS rule,
         (SELECT n_rows FROM n) AS n_rows,
         (SELECT COUNT(*) FROM orders
          WHERE o_custkey IS NULL
             OR o_custkey NOT IN (SELECT c_custkey FROM customer
                                  WHERE c_custkey IS NOT NULL)) AS violations
)
SELECT rule, n_rows, violations,
       ROUND(CASE WHEN n_rows > 0
                  THEN 1 - violations / CAST(n_rows AS DOUBLE)
                  ELSE 1.0 END, 6) AS pass_rate,
       violations = 0 AS passed
FROM (SELECT * FROM row_rules UNION ALL SELECT * FROM uniq
      UNION ALL SELECT * FROM ref)
ORDER BY rule
"""

QUERIES["dq_report_orders"] = dq_report_orders
ORACLES["dq_report_orders"] = DQ_REPORT_SQL


def heavy_hitters_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic (operators/skew.py): the 20 heaviest customers
    by order count with per-key share and cumulative share — the
    measurement that decides whether a keyed join/agg needs salting
    (ROUND_NOTES: salting helps only non-combinable aggs and skewed
    joins; this query is how you find out which keys are hot).
    """
    from nasa_asteroid_data_lakehouse_spark.operators.skew import heavy_hitters

    orders = read_table(spark, sf_dir, "orders")
    return heavy_hitters(orders, ["o_custkey"], top_n=20)


HEAVY_HITTERS_SQL = """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
), tot AS (SELECT SUM(n) AS t FROM counts),
top AS (
  SELECT o_custkey, n, n / CAST(t AS DOUBLE) AS share
  FROM counts, tot
  ORDER BY n DESC, o_custkey
  LIMIT 20
)
SELECT o_custkey, n, ROUND(share, 6) AS share,
       ROUND(SUM(share) OVER (ORDER BY n DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING), 6)
         AS cumulative_share
FROM top
"""

QUERIES["heavy_hitters_orders"] = heavy_hitters_orders
ORACLES["heavy_hitters_orders"] = HEAVY_HITTERS_SQL


def trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: 7-calendar-day trailing revenue per
    order day.  A ROWS frame would be wrong here — days can be missing,
    and a physical-row frame silently widens its time span; the RANGE
    frame is value-based, so gaps shorten the window as they should.
    Ordering key is integer epoch-days (portable across engines).
    One shuffle for the daily aggregate; the window runs over the
    2.4k-row daily table.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn("day_n", F.datediff("day", F.lit("1970-01-01")))
    )
    from pyspark.sql import Window

    # Unpartitioned RANGE window over the DAILY rollup only — one row
    # per calendar day regardless of fact volume, so the single-reducer
    # window is O(days), not O(orders).
    w = Window.orderBy("day_n").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.round("rev", 2).alias("rev"),
        F.round(F.sum("rev").over(w), 2).alias("rev_7d"),
    ).orderBy("day")


TRAILING_WEEK_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS rev,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_n
  FROM orders GROUP BY 1, 3
)
SELECT day, ROUND(rev, 2) AS rev,
       ROUND(SUM(rev) OVER (ORDER BY day_n
                            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
         AS rev_7d
FROM daily
ORDER BY day
"""

QUERIES["trailing_week_revenue"] = trailing_week_revenue
ORACLES["trailing_week_revenue"] = TRAILING_WEEK_SQL


# --- CDC snapshot diff --------------------------------------------------------


def cdc_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the change feed between two deterministic snapshots of
    orders (membership shifts on key mod 10; price/status mutations on
    key mod 3 / mod 5).  Exercises operators/cdc.snapshot_diff: one
    key-shuffle full-outer join over pruned (key + compared cols) rows,
    null-safe column comparison."""
    from nasa_asteroid_data_lakehouse_spark.operators import cdc

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.where(k % 10 < 7).select("o_orderkey", "o_totalprice",
                                          "o_orderstatus")
    new = orders.where(k % 10 >= 3).select(
        "o_orderkey",
        F.when(k % 3 == 0, F.col("o_totalprice") + 100.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.when(k % 5 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return cdc.snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


CDC_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 10 < 7
),
new AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
         ELSE o_totalprice END AS o_totalprice,
    CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 10 >= 3
)
SELECT * FROM (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
         WHEN n.o_orderkey IS NULL THEN 'delete'
         WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
           OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) THEN 'update'
         ELSE 'unchanged' END AS change_type,
    o.o_totalprice AS old_o_totalprice,
    o.o_orderstatus AS old_o_orderstatus,
    n.o_totalprice AS new_o_totalprice,
    n.o_orderstatus AS new_o_orderstatus
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
) t WHERE change_type <> 'unchanged'
"""

QUERIES["cdc_snapshot_diff_orders"] = cdc_snapshot_diff_orders
ORACLES["cdc_snapshot_diff_orders"] = CDC_DIFF_SQL


# --- VARIANT (semi-structured) extraction ------------------------------------


def variant_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path over the semi-structured props column:
    try_parse_json -> variant_get typed extraction -> aggregate.

    VARIANT keeps the parse tree in a binary columnar encoding, so at
    scale the parse happens once per row and every downstream
    extraction is a cheap offset lookup — the right way to query JSON
    event payloads without a fixed schema (vs from_json, which needs
    the schema up front: see from_json_events)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


VARIANT_PROPS_SQL = """
WITH x AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
)
SELECT event_type,
  COUNT(*) AS n_events,
  COUNT(k) AS n_with_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k,
  MAX(k) AS max_k
FROM x GROUP BY event_type
"""

QUERIES["variant_props_events"] = variant_props_events
ORACLES["variant_props_events"] = VARIANT_PROPS_SQL


# --- point-in-time SCD2 dimension join ---------------------------------------


def pit_scd2_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup: each purchase event gets
    the SCD2 status (last non-purchase event type) valid AT ITS
    TIMESTAMP — the composition of operators/scd.scd2_compress (history
    build) and operators/temporal.asof_join (PIT probe) every
    leakage-free ML feature pipeline needs.  Because SCD2 intervals
    tile each key's timeline, the interval join collapses to a backward
    as-of join on valid_from: union-and-window, ONE shuffle on user_id,
    no join node, no interval explosion.

    History rows with a NULL attribute are excluded on both sides (the
    per-column fill would otherwise tear: status from one run,
    valid_from from another — same guard as asof_join_events)."""
    from nasa_asteroid_data_lakehouse_spark.operators.scd import scd2_compress
    from nasa_asteroid_data_lakehouse_spark.operators.temporal import asof_join

    events = read_table(spark, sf_dir, "events")
    history = (
        scd2_compress(
            events.where(F.col("event_type") != "purchase"),
            keys=["user_id"],
            attr_col="event_type",
            ts_col="ts",
            tiebreak=["event_id"],
        )
        .where(F.col("event_type").isNotNull())
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            "valid_from",
            "version",
        )
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, history, ["user_id"], "ts", "valid_from", direction="backward"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("status_right").alias("status"),
        F.col("valid_from_right").alias("status_since"),
        F.col("version_right").alias("status_version"),
    )


PIT_SCD2_SQL = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1 THEN 1
              WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM marked
), history AS (
  SELECT user_id, any_value(event_type) AS status, MIN(ts) AS valid_from,
         CAST(run AS INTEGER) AS version
  FROM runs GROUP BY user_id, run
  HAVING any_value(event_type) IS NOT NULL
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.event_id, p.user_id, p.ts,
         h.status, h.valid_from AS status_since, h.version AS status_version,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY h.valid_from DESC, h.status DESC, h.version DESC
         ) AS rn
  FROM p LEFT JOIN history h
    ON p.user_id = h.user_id AND h.valid_from <= p.ts
)
SELECT event_id, user_id, ts, status, status_since, status_version
FROM j WHERE rn = 1
"""

QUERIES["pit_scd2_join_events"] = pit_scd2_join_events
ORACLES["pit_scd2_join_events"] = PIT_SCD2_SQL


# --- native session windows ---------------------------------------------------


def native_session_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions via Spark's NATIVE session_window aggregation —
    the idiomatic (and streaming-compatible) twin of the hand-rolled
    gaps-and-islands form in session_windows_events.  Semantics pinned:
    sessions split when the gap is >= 30 minutes (windows [t, t+gap)
    merge only while they OVERLAP — an event exactly at the previous
    window's end starts a new session; the islands formulation's `>`
    break differs on that boundary).  NULL timestamps carry no session
    and are excluded on both sides."""
    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


NATIVE_SESSION_SQL = """
WITH o AS (
  SELECT user_id, ts::TIMESTAMP AS ts, value,
    CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP)
              OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sess
"""

QUERIES["native_session_windows_events"] = native_session_windows_events
ORACLES["native_session_windows_events"] = NATIVE_SESSION_SQL


# --- EWMA, transitions, retention --------------------------------------------

_EWMA_ALPHA = 0.5
_EWMA_LAGS = 7


def ewma_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted daily event-count smoothing per type
    (operators/timeseries.ewma — fixed-lag linear filter, one collapsed
    Sort+Window, fixed-order weighted sum)."""
    from nasa_asteroid_data_lakehouse_spark.operators.timeseries import ewma, resample

    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = resample(ev, "ts", ["event_type"], [F.count(F.lit(1)).alias("n")], "1 day")
    return ewma(daily, ["event_type"], "bucket_ts", "n", alpha=_EWMA_ALPHA,
                lags=_EWMA_LAGS)


def _ewma_sql() -> str:
    weights = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i for i in range(_EWMA_LAGS)]
    terms = " + ".join(
        f"CASE WHEN lag(n, {i}) OVER w IS NOT NULL THEN {w!r} * lag(n, {i}) OVER w ELSE 0.0 END"
        for i, w in enumerate(weights)
    )
    mass = " + ".join(
        f"CASE WHEN lag(n, {i}) OVER w IS NOT NULL THEN {w!r} ELSE 0.0 END"
        for i, w in enumerate(weights)
    )
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, bucket_ts, n,
  CASE WHEN ({mass}) > 0 THEN ROUND(({terms}) / ({mass}), 6) END AS ewma
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
"""


EWMA_SQL = _ewma_sql()

QUERIES["ewma_daily_events"] = ewma_daily_events
ORACLES["ewma_daily_events"] = EWMA_SQL


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix: P(next | current) per
    user-ordered event stream — the sequential-pattern surface funnels
    sample one path of.  One window (lead) + one aggregate; rows with
    NULL timestamps are excluded (sequence position undefined — and
    Spark sorts NULLs first where DuckDB sorts them last)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(F.col("n_transitions") / F.col("n_from"), 6).alias("p_transition"),
    )


TRANSITION_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events WHERE ts IS NOT NULL
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
  FROM counts GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_transitions,
       ROUND(c.n_transitions / t.n_from, 6) AS p_transition
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""

QUERIES["event_transition_matrix"] = event_transition_matrix
ORACLES["event_transition_matrix"] = TRANSITION_SQL


def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week, the
    active-user count at each week offset — two aggregation levels
    (per-user first-seen, then cohort x offset distinct counts), both
    shuffling on keys that shrink as they go."""
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ev.join(first_seen, "user_id")
        .select(
            F.date_trunc("week", "first_day").cast("date").alias("cohort_week"),
            F.floor(F.datediff("day", "first_day") / 7).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
first_seen AS (
  SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY 1
)
SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
       CAST(floor((day - first_day) / 7) AS BIGINT) AS week_offset,
       COUNT(DISTINCT ev.user_id) AS n_active
FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
GROUP BY 1, 2
"""

QUERIES["retention_cohorts_events"] = retention_cohorts_events
ORACLES["retention_cohorts_events"] = RETENTION_SQL


def cumulative_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user counts and the cumulative registered-user curve:
    per-user first-seen day, aggregated per day, running-summed.  The
    running sum's window is a single ordered partition by design — it
    runs over the DAY-level aggregate (tiny), never the event table."""
    from pyspark.sql import Window

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("n_cumulative", F.sum("n_new_users").over(w))


CUMULATIVE_USERS_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1
),
daily AS (
  SELECT first_day AS day, COUNT(*) AS n_new_users FROM firsts GROUP BY 1
)
SELECT day, n_new_users,
       CAST(SUM(n_new_users) OVER (ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_cumulative
FROM daily
"""

QUERIES["cumulative_users_events"] = cumulative_users_events
ORACLES["cumulative_users_events"] = CUMULATIVE_USERS_SQL


def interarrival_burstiness_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics and the Goh-Barabási
    burstiness parameter B = (σ-μ)/(σ+μ) over event gaps — the
    temporal-pattern profile (B→-1 periodic, B→0 Poisson, B→+1
    bursty) that complements the duration-based session queries.

    Gaps are computed at MICROSECOND resolution (``timestampdiff`` /
    DuckDB ``date_diff('microsecond')`` agree exactly there, unlike
    second-level truncation-vs-boundary-crossing semantics), ordered
    by (ts, event_id) so equal timestamps break ties identically in
    both engines.  One window pass partitioned on user_id + one hash
    agg on the same key — a single shuffle, map-side partials.
    """
    from nasa_asteroid_data_lakehouse_spark.operators.timeseries import (
        interarrival_stats,
    )

    return interarrival_stats(
        read_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        tiebreak=("event_id",),
        min_gaps=5,
    )


BURSTINESS_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
gaps AS (
  SELECT user_id, date_diff('microsecond', prev_ts, ts) / 1000000.0 AS gap_s
  FROM ordered WHERE prev_ts IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_gaps,
       ROUND(AVG(gap_s), 3) AS mean_gap_s,
       ROUND(STDDEV_SAMP(gap_s), 3) AS sd_gap_s,
       ROUND(STDDEV_SAMP(gap_s) / AVG(gap_s), 6) AS cv,
       ROUND((STDDEV_SAMP(gap_s) - AVG(gap_s))
             / (STDDEV_SAMP(gap_s) + AVG(gap_s)), 6) AS burstiness
FROM gaps
GROUP BY 1
HAVING COUNT(*) >= 5 AND AVG(gap_s) > 0
"""

QUERIES["interarrival_burstiness_users"] = interarrival_burstiness_users
ORACLES["interarrival_burstiness_users"] = BURSTINESS_SQL


def top_session_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session openings: the first 5 event types of each 30-min
    inactivity session, '>'-joined — the path-analysis complement of
    event_transition_matrix (full prefixes, not 1-step Markov counts).

    Sessionization is the lag + cumulative-sum numbering (the oracle
    formulation of session_windows_events), ordered (ts, event_id) so
    duplicated timestamps sequence identically in both engines.  The
    per-session collect_list is bounded by session length; the path
    table is tiny, so the final top-20 is TakeOrderedAndProject.
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES"), 1
            ).otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = s.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    5,
                ),
                lambda st: st.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


TOP_SESSION_PATHS_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
),
paths AS (
  SELECT user_id, sess,
         array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 20
"""

QUERIES["top_session_paths_events"] = top_session_paths_events
ORACLES["top_session_paths_events"] = TOP_SESSION_PATHS_SQL


def time_weighted_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value``: each observation
    holds until the user's next event, so the weight is the interval
    length — the correct mean for irregularly-sampled series (a plain
    AVG over-weights bursts).  Valued events only; the last observation
    carries no interval.

    Interval lengths stay exact integer microseconds through the SUM
    (the denominator and total are order-independent); only the
    value-weighted numerator is a float sum, rounded at 1e-6 on a
    magnitude where reduction-order noise is ~1e-12.  One window pass
    + one hash agg, both keyed on user_id — a single shuffle.
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        events.select("user_id", "ts", "event_id", "value")
        .withColumn("next_ts", F.lead("ts").over(w))
        .where(F.col("next_ts").isNotNull())
        .withColumn(
            "gap_us", F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
        )
    )
    total_s = F.sum("gap_us") / F.lit(1000000.0)
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(total_s, 6).alias("total_s"),
            F.round(
                F.sum(F.col("value") * (F.col("gap_us") / F.lit(1000000.0)))
                / total_s,
                6,
            ).alias("twa_value"),
            F.sum("gap_us").alias("_tot_us"),
        )
        .where(F.col("_tot_us") > 0)
        .drop("_tot_us")
    )


TIME_WEIGHTED_VALUE_SQL = """
WITH iv AS (
  SELECT user_id, value,
         date_diff('microsecond', ts,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_intervals,
       ROUND(SUM(gap_us) / 1000000.0, 6) AS total_s,
       ROUND(SUM(value * (gap_us / 1000000.0))
             / (SUM(gap_us) / 1000000.0), 6) AS twa_value
FROM iv
WHERE gap_us IS NOT NULL
GROUP BY 1
HAVING SUM(gap_us) > 0
"""

QUERIES["time_weighted_value_events"] = time_weighted_value_events
ORACLES["time_weighted_value_events"] = TIME_WEIGHTED_VALUE_SQL


def rolling_active_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day active users, and the
    DAU/WAU stickiness ratio per day — the product-health rollup.

    WAU uses bin replication (each (user, day) activity row covers the
    7 window-end days it contributes to, via sequence + explode), so
    the distinct-count is a plain groupBy — linear in activity rows,
    no 7-way self-join, the same shape as session_concurrency_events.
    Days beyond the observed maximum are clipped (their windows are
    incomplete on the right); early days keep their partial left
    windows (WAU over available history).
    """
    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    # One events scan: the (day, user) distinct table feeds the
    # max-day scalar and both the DAU and WAU branches.
    du = (
        events.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    max_day = du.agg(F.max("day")).collect()[0][0]
    cov = du.select(
        "user_id",
        F.explode(F.expr("sequence(0, 6)")).alias("i"),
        "day",
    ).select("user_id", F.expr("date_add(day, i)").alias("d"))
    wau = (
        cov.where(F.col("d") <= F.lit(max_day))
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["d"])
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ROLLING_ACTIVE_USERS_SQL = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
mx AS (SELECT MAX(day) AS max_day FROM du),
cov AS (
  SELECT user_id, day + CAST(i AS INTEGER) AS d
  FROM du, (SELECT unnest(range(7)) AS i)
),
wau AS (
  SELECT d, COUNT(DISTINCT user_id) AS wau
  FROM cov, mx WHERE d <= max_day GROUP BY 1
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1)
SELECT day, dau, wau, ROUND(dau / wau, 6) AS stickiness
FROM dau JOIN wau ON day = d
"""

QUERIES["rolling_active_users_events"] = rolling_active_users_events
ORACLES["rolling_active_users_events"] = ROLLING_ACTIVE_USERS_SQL


def key_skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic over orders.o_custkey: per-key row
    counts summarized as exact percentiles, max, and the
    max-to-mean skew ratio — the measurement that decides between a
    plain hash aggregation and the salted form (salted_agg_orders);
    heavy_hitters names the hot keys, this sizes the imbalance.

    One hash aggregation on the key + one tiny single-row summary
    (the per-key count table is O(|keys|)).  Spark ``percentile`` and
    DuckDB ``quantile_cont`` share linear interpolation (the MAD/
    quantile-kit contract).
    """
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_per_key"),
        # array form: one sorted buffer serves all three ranks (three
        # scalar percentile aggs would each buffer+sort |keys| values
        # — at 100 TB the key table is itself large)
        F.round(F.expr("percentile(n, array(0.5, 0.9, 0.99))[0]"), 4).alias(
            "p50_per_key"
        ),
        F.round(F.expr("percentile(n, array(0.5, 0.9, 0.99))[1]"), 4).alias(
            "p90_per_key"
        ),
        F.round(F.expr("percentile(n, array(0.5, 0.9, 0.99))[2]"), 4).alias(
            "p99_per_key"
        ),
        F.round(
            F.max("n") / (F.sum("n") / F.count(F.lit(1))), 6
        ).alias("skew_ratio"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top1_share"),
    )


KEY_SKEW_PROFILE_SQL = """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS n
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY 1
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       MAX(n) AS max_per_key,
       ROUND(quantile_cont(n, 0.5), 4) AS p50_per_key,
       ROUND(quantile_cont(n, 0.9), 4) AS p90_per_key,
       ROUND(quantile_cont(n, 0.99), 4) AS p99_per_key,
       ROUND(MAX(n) / (SUM(n) / COUNT(*)), 6) AS skew_ratio,
       ROUND(MAX(n) / SUM(n), 6) AS top1_share
FROM counts
"""

QUERIES["key_skew_profile_orders"] = key_skew_profile_orders
ORACLES["key_skew_profile_orders"] = KEY_SKEW_PROFILE_SQL


def monthly_revenue_growth_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue with growth percentage — the
    period-over-period trend every serving layer ends up asking for.
    Growth is computed on the UNROUNDED monthly sums (rounding first
    would quantize the ratio), lag over the month sequence; the first
    month's growth is NULL by construction.

    One hash aggregation on the truncated month + one window over the
    tiny month table (O(months) rows — single partition is correct).
    """
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    monthly = orders.groupBy(
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(
        F.sum("o_totalprice").alias("_rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("_rev").over(w)
    return (
        monthly.withColumn("_prev", prev)
        .select(
            "month",
            "n_orders",
            F.round("_rev", 2).alias("revenue"),
            F.round(
                (F.col("_rev") - F.col("_prev")) / F.col("_prev") * 100, 4
            ).alias("growth_pct"),
        )
        .orderBy("month")
    )


MONTHLY_GROWTH_SQL = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         SUM(o_totalprice) AS rev,
         COUNT(*) AS n_orders
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1
)
SELECT month, n_orders,
       ROUND(rev, 2) AS revenue,
       ROUND((rev - lag(rev) OVER (ORDER BY month))
             / lag(rev) OVER (ORDER BY month) * 100, 4) AS growth_pct
FROM monthly
ORDER BY month
"""

QUERIES["monthly_revenue_growth_orders"] = monthly_revenue_growth_orders
ORACLES["monthly_revenue_growth_orders"] = MONTHLY_GROWTH_SQL


def conversion_latency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view-to-first-purchase latency distribution: per user, the
    time from the first 'view' to the first 'purchase' AFTER it —
    the funnel-timing gauge (funnel_events counts conversions; this
    measures how long they take).  Latency diffs at microsecond
    resolution; percentiles use the Spark ``percentile`` / DuckDB
    ``quantile_cont`` linear-interpolation contract.

    Two hash aggregations keyed on user (first view, then first
    qualifying purchase via a shuffle join on the user key) and a
    single-row summary.
    """
    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    first_view = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    first_purchase = (
        events.where(F.col("event_type") == "purchase")
        .join(first_view, "user_id")
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = first_purchase.select(
        (
            F.expr("timestampdiff(MICROSECOND, first_view, first_purchase)")
            / F.lit(1000000.0)
        ).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(latency_s, array(0.5, 0.9))[0]"), 3).alias(
            "p50_s"
        ),
        F.round(F.expr("percentile(latency_s, array(0.5, 0.9))[1]"), 3).alias(
            "p90_s"
        ),
        F.round(F.avg("latency_s"), 3).alias("mean_s"),
    )


CONVERSION_LATENCY_SQL = """
WITH base AS (
  SELECT user_id, ts, event_type FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
fv AS (
  SELECT user_id, MIN(ts) AS first_view FROM base
  WHERE event_type = 'view' GROUP BY 1
),
fp AS (
  SELECT b.user_id, fv.first_view, MIN(b.ts) AS first_purchase
  FROM base b JOIN fv USING (user_id)
  WHERE b.event_type = 'purchase' AND b.ts > fv.first_view
  GROUP BY 1, 2
),
lat AS (
  SELECT date_diff('microsecond', first_view, first_purchase) / 1000000.0
           AS latency_s
  FROM fp
)
SELECT COUNT(*) AS n_converted,
       ROUND(quantile_cont(latency_s, 0.5), 3) AS p50_s,
       ROUND(quantile_cont(latency_s, 0.9), 3) AS p90_s,
       ROUND(AVG(latency_s), 3) AS mean_s
FROM lat
"""

QUERIES["conversion_latency_events"] = conversion_latency_events
ORACLES["conversion_latency_events"] = CONVERSION_LATENCY_SQL


def linear_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's unit of credit
    is split equally across the user's view/click/signup touches in
    the preceding 24 hours, then summed per touch type — the
    multi-touch complement of last_click_before_purchase (which gives
    the whole unit to one touch).

    The time-bounded self-join keys on user_id (AQE-sized shuffle
    join, same shape as purchases_after_clicks); the per-purchase
    touch count is a window over the purchase id — bounded by touches
    per purchase window, never corpus-wide.  Credit 1/n is a single
    exact division; the per-type sums round at 1e-6.
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    touches = events.where(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", "ts", "event_type")
    joined = touches.join(
        purchases,
        (touches["user_id"] == purchases["user_id"])
        & (F.col("ts") < F.col("pts"))
        & (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("pid")
    credited = joined.withColumn(
        "credit", F.lit(1) / F.count(F.lit(1)).over(w)
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("pid").alias("n_purchases_touched"),
            F.round(F.sum("credit"), 6).alias("credit"),
        )
        .orderBy("event_type")
    )


LINEAR_ATTRIBUTION_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
p AS (
  SELECT user_id, ts AS pts, event_id AS pid FROM base
  WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, ts, event_type FROM base
  WHERE event_type IN ('view', 'click', 'signup')
),
j AS (
  SELECT t.event_type, p.pid,
         1 / COUNT(*) OVER (PARTITION BY p.pid) AS credit
  FROM t JOIN p ON t.user_id = p.user_id
   AND t.ts < p.pts AND t.ts >= p.pts - INTERVAL 24 HOUR
)
SELECT event_type, COUNT(*) AS n_touches,
       COUNT(DISTINCT pid) AS n_purchases_touched,
       ROUND(SUM(credit), 6) AS credit
FROM j
GROUP BY 1
ORDER BY event_type
"""

QUERIES["linear_attribution_events"] = linear_attribution_events
ORACLES["linear_attribution_events"] = LINEAR_ATTRIBUTION_SQL


def rolling_correlation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day Pearson correlation between the daily 'view' and
    'purchase' counts — the do-views-drive-purchases co-movement
    gauge.  Written entirely as WINDOW SUMS over exact integer daily
    counts (n·Σxy − Σx·Σy over the usual root), so both engines
    compute the identical fixed-order float expression per row; rows
    with an undefined correlation (either series constant in the
    window) are NULL in both.

    One hash agg to the daily grid (conditional counts — no pivot
    shuffle), one 7-row window over the bounded day table.
    """
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    n = F.count(F.lit(1)).over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return daily.select(
        "day",
        "x",
        "y",
        F.round(
            F.when(den > 0, num / den), 6
        ).alias("corr_7d"),
    ).orderBy("day")


ROLLING_CORR_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) FILTER (WHERE event_type = 'view') AS x,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
),
win AS (
  SELECT day, x, y,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
         SUM(x * y) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, x, y,
       ROUND(CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS corr_7d
FROM win
ORDER BY day
"""

QUERIES["rolling_correlation_events"] = rolling_correlation_events
ORACLES["rolling_correlation_events"] = ROLLING_CORR_SQL


def hourly_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity profile: event counts and share of total
    per (day-of-week, hour-of-day) cell — the seasonality fingerprint
    behind anomaly baselines and capacity planning.  ISO day numbering
    (1 = Monday) on both engines; one hash agg + a broadcast of the
    single-row total."""
    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cells = events.groupBy(
        F.dayofweek("ts").alias("_dow_sun1"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # Spark dayofweek: 1=Sunday; ISO: 1=Monday
    iso = cells.select(
        (((F.col("_dow_sun1") + 5) % 7) + 1).alias("dow_iso"),
        "hour",
        "n_events",
    )
    total = iso.agg(F.sum("n_events").alias("_total"))
    return (
        iso.crossJoin(F.broadcast(total))
        .select(
            "dow_iso",
            "hour",
            "n_events",
            F.round(F.col("n_events") / F.col("_total"), 6).alias("share"),
        )
        .orderBy("dow_iso", "hour")
    )


HOURLY_SEASONALITY_SQL = """
WITH cells AS (
  SELECT isodow(ts) AS dow_iso, EXTRACT(hour FROM ts) AS hour,
         COUNT(*) AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cells)
SELECT dow_iso, hour, n_events,
       ROUND(n_events / tot.total, 6) AS share
FROM cells, tot
ORDER BY dow_iso, hour
"""

QUERIES["hourly_seasonality_events"] = hourly_seasonality_events
ORACLES["hourly_seasonality_events"] = HOURLY_SEASONALITY_SQL


_PSI_SPLIT = "1998-01-01"
_PSI_BINS = 10


def psi_orders_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of o_totalprice between the
    reference period (orders before 1998-01-01) and the current period
    (after) — the standard model-ops drift gauge (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 drifted).

    Bin edges are the reference period's deciles (exact
    ``percentile`` / ``quantile_cont`` contract), then both periods
    are histogrammed on those SAME edges; the per-bin contribution is
    (p - q)·ln(p/q) with counts Laplace-floored at 1 so empty bins
    stay finite.  Edge computation is one aggregation; binning is a
    broadcast of 9 doubles folded into a CASE chain with a period
    flag — ONE conditional-aggregation pass bins both periods, no
    join; period totals are window sums over the bounded bin table.
    """
    from nasa_asteroid_data_lakehouse_spark.operators import stats

    orders = read_table(spark, sf_dir, "orders").where(
        stats.finite("o_totalprice") & F.col("o_orderdate").isNotNull()
    )
    ref = orders.where(F.col("o_orderdate") < _PSI_SPLIT)
    qs = [i / _PSI_BINS for i in range(1, _PSI_BINS)]
    # ONE array-form percentile: nine scalar percentile aggregates
    # each buffer and sort the column independently (9x the work —
    # measured 2.5 s vs 0.9 s at sf0.1); the array form extracts all
    # nine ranks from a single sorted buffer, bit-identically.
    edges = ref.agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(repr(q) for q in qs)}))"
        ).alias("es")
    ).collect()[0]
    # empty ref period: NULL array -> NULL cut points, same as the
    # scalar form produced (bin comparisons stay NULL-safe)
    cuts = list(edges["es"]) if edges["es"] is not None else [None] * len(qs)

    def bin_col():
        c = F.lit(0)
        for e in cuts:
            c = c + F.when(F.col("o_totalprice") > F.lit(e), 1).otherwise(0)
        return c.alias("bin")

    # ONE conditional-aggregation scan bins both periods at once
    # (previously: two per-period histogram scans plus two bare
    # count() scans — 4 passes where 1 suffices); the period totals
    # come from window sums over the bounded 10-bin table, exactly
    # equal to the row counts.
    from pyspark.sql import Window

    joined = (
        orders.select(bin_col(), (F.col("o_orderdate") < _PSI_SPLIT).alias("is_ref"))
        .groupBy("bin")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
            F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
        )
    )
    # Guarded divisions: an all-one-period table (degenerate but
    # legal) zeroes a total — DuckDB's x/0 is NULL, Spark's ANSI x/0
    # throws; the when() makes both sides NULL (PSI is undefined when
    # a period is empty).
    w = Window.partitionBy()
    tot_r = F.sum("n_ref").over(w)
    tot_c = F.sum("n_cur").over(w)
    p = F.when(tot_r > 0, F.greatest(F.col("n_ref"), F.lit(1)) / tot_r)
    q = F.when(tot_c > 0, F.greatest(F.col("n_cur"), F.lit(1)) / tot_c)
    per_bin = joined.select(
        "bin",
        "n_ref",
        "n_cur",
        ((p - q) * F.log(p / q)).alias("_contrib"),
    )
    return per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_ref").alias("ref_rows"),
        F.sum("n_cur").alias("cur_rows"),
        F.round(F.sum("_contrib"), 6).alias("psi"),
    )


def _psi_sql() -> str:
    qs = [i / _PSI_BINS for i in range(1, _PSI_BINS)]
    edge_sel = ", ".join(
        f"quantile_cont(o_totalprice, {q!r}) AS e{i}" for i, q in enumerate(qs)
    )
    bin_expr = " + ".join(
        f"CASE WHEN o_totalprice > (SELECT e{i} FROM edges) THEN 1 ELSE 0 END"
        for i in range(len(qs))
    )
    return f"""
WITH base AS (
  SELECT o_totalprice, o_orderdate FROM orders
  WHERE isfinite(o_totalprice) AND o_orderdate IS NOT NULL
),
ref AS (SELECT o_totalprice FROM base WHERE o_orderdate < '{_PSI_SPLIT}'),
cur AS (SELECT o_totalprice FROM base WHERE o_orderdate >= '{_PSI_SPLIT}'),
edges AS (SELECT {edge_sel} FROM ref),
rb AS (SELECT {bin_expr} AS bin, COUNT(*) AS n_ref FROM ref GROUP BY 1),
cb AS (SELECT {bin_expr} AS bin, COUNT(*) AS n_cur FROM cur GROUP BY 1),
tot AS (SELECT (SELECT COUNT(*) FROM ref) AS nr, (SELECT COUNT(*) FROM cur) AS nc),
j AS (
  SELECT COALESCE(rb.bin, cb.bin) AS bin,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
)
SELECT COUNT(*) AS n_bins,
       CAST(SUM(n_ref) AS BIGINT) AS ref_rows,
       CAST(SUM(n_cur) AS BIGINT) AS cur_rows,
       ROUND(SUM((greatest(n_ref, 1) / (SELECT nr FROM tot)
                  - greatest(n_cur, 1) / (SELECT nc FROM tot))
                 * ln((greatest(n_ref, 1) / (SELECT nr FROM tot))
                      / (greatest(n_cur, 1) / (SELECT nc FROM tot)))), 6) AS psi
FROM j
"""


PSI_SQL = _psi_sql()

QUERIES["psi_orders_price"] = psi_orders_price
ORACLES["psi_orders_price"] = PSI_SQL
