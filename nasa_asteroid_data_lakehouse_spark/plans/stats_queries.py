"""Statistical-mining and tokenizer-training queries: BPE pair counts,
deterministic shuffle manifests, equi-depth histograms, chi-square
independence, Benford screens, and functional-dependency conflict
mining — the profiling layer a training-data pipeline runs before it
trusts a corpus.

Every query is a single scan reduced to a bounded table (pairs,
shards, buckets, cells, digits, duplicate groups); cross-row math
re-derives from the bounded table.  No reference analog: the
reference's statistics stop at null-count profiling
(``src/etl/silver_to_gold.py:46-52``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.llm import sharding, text, tokenizer
from nasa_asteroid_data_lakehouse_spark.operators import stats
from nasa_asteroid_data_lakehouse_spark.plans import _NORMC, _TOKSC

QUERIES: dict = {}
ORACLES: dict = {}


# --- BPE pair counts (tokenizer training, one merge iteration) ---------------


def bpe_pair_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent token pairs over the corpus — the count half of
    one BPE training iteration (llm/tokenizer.py: pair_counts).

    Narrow zip-of-slices pair projection, hash aggregate keyed on the
    pair (map-side partials shrink the shuffle to the distinct-pair
    vocabulary), TakeOrderedAndProject for the top-k."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    return (
        tokenizer.pair_counts(docs)
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(50)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH toks AS (SELECT {_TOKSC} AS t FROM documents),
pairs AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS g(i)
)
SELECT a, b, CAST(COUNT(*) AS BIGINT) AS pair_count
FROM pairs
GROUP BY a, b
ORDER BY pair_count DESC, a, b
LIMIT 50
"""

QUERIES["bpe_pair_counts_documents"] = bpe_pair_counts_documents
ORACLES["bpe_pair_counts_documents"] = BPE_PAIR_COUNTS_SQL


# --- deterministic global-shuffle manifest -----------------------------------


def shuffle_manifest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order manifest: deterministic shard + within-shard
    position for every document (llm/sharding.py primitives).

    The scale-correct global shuffle: shard from an md5 bucket of the
    id (pure function — reproducible across engines and re-exports),
    order WITHIN each shard by an independent md5 key.  The window
    partitions by shard, so position assignment parallelizes across
    shards instead of funneling 100 TB through one global row_number;
    shard count is the lever that bounds per-window data."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        sharding.shard_id("doc_id", 8).alias("shard"),
        sharding.shuffle_order("doc_id").alias("shuffle_key"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.withColumn("shard_pos", F.row_number().over(w))


SHUFFLE_MANIFEST_SQL = """
WITH keyed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('shards-v1' || '||' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS INTEGER) AS shard,
    md5('shards-v1-order' || '||' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT doc_id, shard, shuffle_key,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)
            AS INTEGER) AS shard_pos
FROM keyed
"""

QUERIES["shuffle_manifest_documents"] = shuffle_manifest_documents
ORACLES["shuffle_manifest_documents"] = SHUFFLE_MANIFEST_SQL


# --- equi-depth histogram ----------------------------------------------------


def equidepth_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile (equal-frequency) histogram of order totals
    (operators/stats.py: equidepth_histogram).

    Exact interior percentiles -> single-row boundary vector broadcast
    back -> map-side bucket assignment -> 10-row aggregate.  No NTILE:
    the NTILE formulation is ONE global window partition — the plan
    that dies at 100 TB; this one is two scans of which the second is
    embarrassingly parallel (swap percentile_approx in at scale)."""
    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        # finite == isNotNull AND NaN/Inf-free (measure contract)
        .where(stats.finite("o_totalprice"))
    )
    return stats.equidepth_histogram(orders, "o_totalprice", buckets=10)


EQUIDEPTH_SQL = """
WITH bounds AS (
  SELECT list_transform(
           quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           b -> round(b, 4)) AS bs
  FROM orders
  WHERE isfinite(o_totalprice)
),
assigned AS (
  SELECT o_totalprice AS v,
         CAST(len(list_filter(bs, b -> o_totalprice > b)) AS INTEGER) AS bucket
  FROM orders, bounds
  WHERE isfinite(o_totalprice)
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(v), 4) AS lo,
       ROUND(MAX(v), 4) AS hi,
       ROUND(AVG(v), 6) AS mean
FROM assigned
GROUP BY bucket
ORDER BY bucket
"""

QUERIES["equidepth_histogram_orders"] = equidepth_histogram_orders
ORACLES["equidepth_histogram_orders"] = EQUIDEPTH_SQL


# --- chi-square independence -------------------------------------------------


def chi_square_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is event type independent of ISO weekday?  Per-cell chi-square
    decomposition + the table statistic (operators/stats.py:
    chi_square_independence).

    One scan -> |types|x7 cell table; marginals/expected/statistic are
    window re-aggregations over those bounded cells only."""
    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # Spark dayofweek: 1=Sunday; ISO: 1=Monday
    typed = events.select(
        "event_type",
        (((F.dayofweek("ts") + 5) % 7) + 1).alias("dow_iso"),
    )
    return stats.chi_square_independence(typed, "event_type", "dow_iso")


CHI_SQUARE_SQL = """
WITH cells AS (
  SELECT event_type AS row_key, CAST(isodow(ts) AS INTEGER) AS col_key,
         CAST(COUNT(*) AS BIGINT) AS observed
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
marg AS (
  SELECT *,
         SUM(observed) OVER (PARTITION BY row_key) AS rt,
         SUM(observed) OVER (PARTITION BY col_key) AS ct,
         SUM(observed) OVER () AS gt
  FROM cells
),
ex AS (
  SELECT row_key, col_key, observed,
         CAST(rt AS DOUBLE) * ct / gt AS e
  FROM marg
),
c AS (
  SELECT *, (observed - e) * (observed - e) / e AS contrib_raw FROM ex
)
SELECT row_key, col_key, observed,
       ROUND(e, 6) AS expected,
       ROUND(contrib_raw, 6) AS contrib,
       ROUND(SUM(contrib_raw)
               OVER (ORDER BY row_key, col_key
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS cum_chi_square
FROM c
"""

QUERIES["chi_square_events"] = chi_square_events
ORACLES["chi_square_events"] = CHI_SQUARE_SQL


# --- Benford leading-digit screen --------------------------------------------


def benford_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals vs Benford's law
    (operators/stats.py: benford_profile) — the synthetic-data / fraud
    screen.  Digit extraction goes through the exact integer cents
    rendering, so no float pow/log sits in the grouping key."""
    orders = read_table(spark, sf_dir, "orders").select("o_totalprice")
    return stats.benford_profile(orders, "o_totalprice")


BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice > 0 AND isfinite(o_totalprice)
  GROUP BY 1
),
t AS (SELECT *, SUM(n) OVER () AS total FROM digits),
x AS (
  SELECT digit, n,
         CAST(n AS DOUBLE) / total AS obs,
         log10(1.0 + 1.0 / digit) AS ben
  FROM t
)
SELECT digit, n,
       ROUND(obs, 6) AS observed_share,
       ROUND(ben, 6) AS benford_share,
       ROUND(abs(obs - ben), 6) AS abs_gap
FROM x
ORDER BY digit
"""

QUERIES["benford_orders"] = benford_orders
ORACLES["benford_orders"] = BENFORD_SQL


# --- functional-dependency conflict mining -----------------------------------


def metadata_conflicts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup metadata audit: block documents on the 40-char
    normalized-text prefix fingerprint (the near-dup families in this
    corpus share prefixes, not whole texts) and test the candidate FD
    block -> (lang, source).  (operators/stats.py: fd_conflicts with
    only_violations=False, filtered to duplicate groups.)

    Conflicting metadata on duplicate content is what makes naive
    "keep first" dedup non-deterministic about labels; this is the
    audit a curation pipeline runs before choosing survivors.  One
    md5 projection + one hash aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    norm = text.normalized_text("text")
    keyed = docs.where(norm != "").select(
        F.md5(F.substring(norm, 1, 40)).alias("fp"), "lang", "source"
    )
    return (
        stats.fd_conflicts(keyed, "fp", ["lang", "source"], only_violations=False)
        .where(F.col("n_rows") > 1)
        .select(
            "determinant",
            "n_rows",
            "n_lang",
            "n_source",
            (F.col("n_lang") > 1).alias("lang_conflict"),
            (F.col("n_source") > 1).alias("source_conflict"),
        )
    )


METADATA_CONFLICTS_SQL = f"""
SELECT md5(substr({_NORMC}, 1, 40)) AS determinant,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_source,
       (COUNT(DISTINCT lang) > 1) AS lang_conflict,
       (COUNT(DISTINCT source) > 1) AS source_conflict
FROM documents
WHERE {_NORMC} <> ''
GROUP BY 1
HAVING COUNT(*) > 1
"""

QUERIES["metadata_conflicts_documents"] = metadata_conflicts_documents
ORACLES["metadata_conflicts_documents"] = METADATA_CONFLICTS_SQL


# --- market-basket co-occurrence ---------------------------------------------


def market_basket_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-ordered part pairs with support and lift
    (operators/stats.py: basket_pairs).

    The pair expansion shuffles ONCE on the order key into per-order
    sorted item arrays and expands pairs with a narrow nested
    transform (bounded by per-order line counts — never all-pairs
    over parts, and no self-join); per-part totals are an O(|parts|)
    broadcast; lift is exact integer-count math with one scalar
    division at the end."""
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return (
        stats.basket_pairs(lineitem, "l_orderkey", "l_partkey")
        .orderBy(F.desc("pair_groups"), "item_a", "item_b")
        .limit(50)
    )


MARKET_BASKET_SQL = """
WITH base AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n_groups FROM base),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS pair_groups
  FROM base a JOIN base b ON a.g = b.g AND a.item < b.item
  GROUP BY 1, 2
),
tot AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1)
SELECT item_a, item_b, pair_groups, ta.c AS n_a, tb.c AS n_b,
       ROUND(CAST(pair_groups AS DOUBLE) / n_groups, 6) AS support,
       ROUND(CAST(pair_groups AS DOUBLE) * n_groups / (ta.c * tb.c), 6) AS lift
FROM pairs
JOIN tot ta ON item_a = ta.item
JOIN tot tb ON item_b = tb.item, n
ORDER BY pair_groups DESC, item_a, item_b
LIMIT 50
"""

QUERIES["market_basket_lineitem"] = market_basket_lineitem
ORACLES["market_basket_lineitem"] = MARKET_BASKET_SQL


# --- CUSUM changepoint screen ------------------------------------------------


def cusum_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen over daily event counts
    (operators/stats.py: cusum): running sum of deviations from the
    series mean, peak |CUSUM| flagged as the changepoint candidate.

    Raw data reduces to an O(days) series FIRST; the ordered running
    window then runs over that bounded table only.  The running sum
    accumulates in day order — a fixed float reduction order both
    engines reproduce exactly."""
    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return stats.cusum(daily, "day", "n_events")


CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
),
m AS (
  SELECT CAST(SUM(n_events) AS DOUBLE) AS tot, COUNT(*) AS n FROM daily
),
dev AS (
  SELECT day, n_events, n_events - tot / n AS d FROM daily, m
),
cum AS (
  SELECT day, n_events,
         SUM(d) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cusum_raw
  FROM dev
)
SELECT day, n_events,
       ROUND(cusum_raw, 6) AS cusum,
       (abs(cusum_raw) = MAX(abs(cusum_raw)) OVER ()) AS is_peak
FROM cum
"""

QUERIES["cusum_daily_events"] = cusum_daily_events
ORACLES["cusum_daily_events"] = CUSUM_SQL


# --- lagged autocorrelation --------------------------------------------------


def autocorrelation_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily event counts.

    The Pearson r comes from INTEGER moments (n, Sx, Sy, Sxx, Syy,
    Sxy over exact counts) so the aggregation is reduction-order-free;
    the only float math is one fixed-order scalar expression per lag.
    Series table is O(days); the lag join is a self equi-join on the
    shifted day."""
    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    out = None
    for lag in (1, 7):
        a = daily.select(F.col("day"), F.col("x"))
        b = daily.select(
            F.date_add("day", -lag).alias("day"), F.col("x").alias("y")
        )
        m = (
            a.join(b, "day")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("y") * F.col("y")).alias("syy"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"),
            )
            .select(
                F.lit(lag).alias("lag"),
                F.col("n").alias("n_pairs"),
                F.round(
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    .cast("double")
                    / F.sqrt(
                        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                        .cast("double")
                        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                        .cast("double")
                    ),
                    6,
                ).alias("autocorr"),
            )
        )
        out = m if out is None else out.unionByName(m)
    return out


AUTOCORR_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
),
lagged AS (
  SELECT 1 AS lag, a.x AS x, b.x AS y
  FROM daily a JOIN daily b ON b.day = a.day + 1
  UNION ALL
  SELECT 7 AS lag, a.x AS x, b.x AS y
  FROM daily a JOIN daily b ON b.day = a.day + 7
),
mom AS (
  -- lag spine LEFT JOIN so an empty series still yields one row per
  -- lag (n = COUNT(x) = 0, NULL moments), matching the engine's
  -- per-lag global aggregate
  SELECT l.lag,
         CAST(COUNT(x) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM (SELECT 1 AS lag UNION ALL SELECT 7) l
  LEFT JOIN lagged USING (lag)
  GROUP BY l.lag
)
SELECT lag, n AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS autocorr
FROM mom
"""

QUERIES["autocorrelation_daily_events"] = autocorrelation_daily_events
ORACLES["autocorrelation_daily_events"] = AUTOCORR_SQL


# --- deterministic A/B split + two-proportion z-test -------------------------


def ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-randomized A/B readout: deterministic variant from an
    md5 bucket of the USER id (the same engine-portable idiom as
    llm/sharding.py), metric = purchase share of events, pooled
    two-proportion z-test.

    One scan with conditional sums pivots both variants to COLUMNS of
    a single row, so every float enters the z expression in fixed
    textual order from exact integer counts.  (User-level "ever
    converted" saturates at 100% on this corpus — every user
    purchases — which degenerates the pooled variance to zero; the
    event-share metric keeps 0 < p < 1 at every SF.)"""
    # NULL user ids can't be assigned a variant (md5 of NULL diverges
    # between engines via concat_ws-skip vs NULL-propagation) — pin
    # the semantics: assignment requires an id, on both sides
    events = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    variant = sharding.shard_id("user_id", 2, seed="ab-v1")
    # when/otherwise, not a bare boolean cast: NULL event_type must
    # count as 0 (the oracle's CASE ... ELSE 0), never propagate NULL
    purch = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    pivoted = events.select(variant.alias("variant"), purch.alias("p")).agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0).cast("long")).alias(
            "n_a"
        ),
        F.sum(
            F.when(F.col("variant") == 0, F.col("p")).otherwise(0).cast("long")
        ).alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0).cast("long")).alias(
            "n_b"
        ),
        F.sum(
            F.when(F.col("variant") == 1, F.col("p")).otherwise(0).cast("long")
        ).alias("conv_b"),
    )
    # Guarded divisions: a single-variant table (degenerate but legal)
    # zeroes a count — DuckDB's x/0 is NULL, Spark's ANSI x/0 throws;
    # the when() makes both sides NULL (rate/se undefined for an
    # empty variant; the z guard already handles NULL/0 se).
    ra = F.when(
        F.col("n_a") > 0, F.col("conv_a").cast("double") / F.col("n_a")
    )
    rb = F.when(
        F.col("n_b") > 0, F.col("conv_b").cast("double") / F.col("n_b")
    )
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    stepped = pivoted.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        ra.alias("__ra"),
        rb.alias("__rb"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            ),
        ).alias("__se"),
    )
    return stepped.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round("__ra", 6).alias("rate_a"),
        F.round("__rb", 6).alias("rate_b"),
        F.round(
            F.when(
                F.col("__se") > 0,
                (F.col("__ra") - F.col("__rb")) / F.col("__se"),
            ),
            6,
        ).alias("z_score"),
    )


AB_TEST_SQL = """
WITH assigned AS (
  SELECT CAST(('0x' || substr(md5('ab-v1' || '||' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS INTEGER) AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events WHERE user_id IS NOT NULL
),
pivoted AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN variant = 0 THEN p ELSE 0 END) AS BIGINT) AS conv_a,
    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN variant = 1 THEN p ELSE 0 END) AS BIGINT) AS conv_b
  FROM assigned
),
stepped AS (
  SELECT n_a, conv_a, n_b, conv_b,
         CAST(conv_a AS DOUBLE) / n_a AS ra,
         CAST(conv_b AS DOUBLE) / n_b AS rb,
         sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
              * (1.0 / n_a + 1.0 / n_b)) AS se
  FROM pivoted
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(ra, 6) AS rate_a,
       ROUND(rb, 6) AS rate_b,
       ROUND(CASE WHEN se > 0 THEN (ra - rb) / se END, 6) AS z_score
FROM stepped
"""

QUERIES["ab_test_events"] = ab_test_events
ORACLES["ab_test_events"] = AB_TEST_SQL


# --- revenue concentration (Lorenz deciles) ----------------------------------


def lorenz_deciles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration: per spend-decile row count,
    exact revenue share, and cumulative share (the Lorenz curve /
    "top 10% of customers hold X%" report).

    Portability: revenue sums in EXACT INTEGER CENTS (2-decimal
    prices), so every share is one double division of exact integers
    and the cumulative share is derived from an integer running sum —
    no float reduction order anywhere.

    Scale (VERDICT r05 ask #2): the naive formulation is
    ``NTILE(10) OVER (ORDER BY cents DESC)`` — a single-partition sort
    of EVERY customer, the one grain that keeps growing at 100×.  The
    oracle keeps that exact form; the engine reproduces it bit-for-bit
    without any unpartitioned window:

    1. coarse range-bucket customers on ``cents`` via a broadcast
       ``percentile_approx`` boundary array (mergeable sketch — the
       output is INVARIANT to boundary precision because ties of a
       given ``cents`` value always share a bucket);
    2. per-bucket counts -> cumulative offsets (a window over the
       <=32-row bucket table only);
    3. exact global rank = offset + ``row_number`` partitioned BY
       BUCKET (each window partition is ~customers/32);
    4. decile from rank by integer NTILE arithmetic (first ``n%10``
       deciles hold ``n/10 + 1`` customers).
    """
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & stats.finite("o_totalprice")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )

    n_buckets = 32
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = per_cust.agg(
        F.expr(f"percentile_approx(cents, array({qs}), 1000)").alias("__bounds"),
        F.count(F.lit(1)).alias("__n"),
    )
    c = F.col("cents")
    bucketed = per_cust.crossJoin(broadcast(bounds)).select(
        "o_custkey",
        "cents",
        "__n",
        F.size(F.filter("__bounds", lambda b: c > b)).alias("__bkt"),
    )
    # Rank order is cents DESC, so offsets accumulate from the HIGHEST
    # bucket down; the window runs over the bounded bucket table only.
    w_off = (
        Window.orderBy(F.desc("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__bkt",
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    w_local = Window.partitionBy("__bkt").orderBy(F.desc("cents"), "o_custkey")
    ranked = (
        bucketed.join(broadcast(offsets), "__bkt")
        .select(
            "cents",
            "__n",
            (F.col("__off") + F.row_number().over(w_local)).alias("__rank"),
        )
    )
    # NTILE(10) arithmetic: q = n div 10, rem = n mod 10; the first rem
    # deciles hold q+1 customers.  Integer DIV throughout; the ELSE
    # branch divides by q, which CASE never evaluates when q = 0
    # (then rem = n and every rank satisfies the WHEN branch).
    tiled = ranked.select(
        "cents",
        F.expr(
            "CAST(CASE WHEN __rank <= (__n % 10) * (__n DIV 10 + 1) "
            "THEN (__rank + (__n DIV 10 + 1) - 1) DIV (__n DIV 10 + 1) "
            "ELSE (__n % 10) + (__rank - (__n % 10) * (__n DIV 10 + 1) "
            "+ (__n DIV 10) - 1) DIV (__n DIV 10) END AS INT)"
        ).alias("decile"),
    )
    by_dec = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("dec_cents"),
    )
    w_cum = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    return by_dec.select(
        "decile",
        "n_customers",
        F.round(
            F.col("dec_cents").cast("double") / F.sum("dec_cents").over(w_all),
            6,
        ).alias("rev_share"),
        F.round(
            F.sum("dec_cents").over(w_cum).cast("double")
            / F.sum("dec_cents").over(w_all),
            6,
        ).alias("cum_rev_share"),
    ).orderBy("decile")


LORENZ_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND isfinite(o_totalprice)
  GROUP BY o_custkey
),
tiled AS (
  SELECT o_custkey, cents,
         NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
  FROM per_cust
),
by_dec AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS dec_cents
  FROM tiled GROUP BY decile
)
SELECT decile, n_customers,
       ROUND(CAST(dec_cents AS DOUBLE) / SUM(dec_cents) OVER (), 6)
         AS rev_share,
       ROUND(CAST(SUM(dec_cents)
                    OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / SUM(dec_cents) OVER (), 6) AS cum_rev_share
FROM by_dec
ORDER BY decile
"""

QUERIES["lorenz_deciles_orders"] = lorenz_deciles_orders
ORACLES["lorenz_deciles_orders"] = LORENZ_SQL


# --- new vs returning users --------------------------------------------------


def new_vs_returning_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement split: active users per day, of which first
    ever seen that day (new) vs returning — the growth-accounting
    view every event pipeline reports.

    One distinct (user, day) projection feeds BOTH the per-user first
    day (hash agg on user) and the flag join — both sides already
    hash-partition on user_id, so the join is co-partitioned (no
    broadcast hint: at 100M users the first-day table outgrows any
    broadcast; AQE picks broadcast itself when it fits).  Integer
    counts only."""
    events = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first_day = user_days.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    flagged = user_days.join(first_day, "user_id").select(
        "day",
        F.when(F.col("day") == F.col("first_day"), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum("is_new").alias("new_users"),
            (F.count(F.lit(1)) - F.sum("is_new")).alias("returning_users"),
        )
        .orderBy("day")
    )


NEW_RETURNING_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
first_day AS (
  SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY user_id
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM user_days JOIN first_day USING (user_id)
GROUP BY day
ORDER BY day
"""

QUERIES["new_vs_returning_users_events"] = new_vs_returning_users_events
ORACLES["new_vs_returning_users_events"] = NEW_RETURNING_SQL


# --- Wald-Wolfowitz runs test ------------------------------------------------


def runs_test_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomness screen on the daily event-count series: the
    Wald-Wolfowitz runs test on above/below-median signs.  A series
    with trend or strong autocorrelation produces too few runs; a
    metronome produces too many — either flags a generator or
    instrumentation artifact in "organic" traffic.

    The raw stream reduces to the O(days) series first; the ordered
    lag walk and every moment after it touch only that bounded table.
    Days equal to the median are excluded (the standard treatment),
    pinned identically in the oracle; z comes from exact integer
    moments in one fixed scalar expression."""
    events = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    med = daily.agg(F.expr("percentile(x, 0.5)").alias("med"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("x") != F.col("med"))
        .select("day", (F.col("x") > F.col("med")).cast("int").alias("s"))
    )
    w = Window.orderBy("day")
    flips = signed.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    mom = flips.agg(
        F.sum("s").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).alias("n2"),
        F.sum("new_run").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = F.lit(2.0) * n1 * n2 / (n1 + n2) + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    stepped = mom.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        mu.alias("__mu"),
        F.sqrt(var).alias("__sigma"),
    )
    return stepped.select(
        "n_above",
        "n_below",
        "n_runs",
        F.round("__mu", 6).alias("expected_runs"),
        F.round(
            F.when(
                F.col("__sigma") > 0,
                (F.col("n_runs") - F.col("__mu")) / F.col("__sigma"),
            ),
            6,
        ).alias("z_score"),
    )


RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
med AS (SELECT quantile_cont(x, 0.5) AS med FROM daily),
signed AS (
  SELECT day, CAST(x > med AS INTEGER) AS s
  FROM daily, med WHERE x <> med
),
flips AS (
  SELECT s,
         CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
                OR LAG(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END
           AS new_run
  FROM signed
),
mom AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2,
         CAST(SUM(new_run) AS BIGINT) AS r
  FROM flips
),
stepped AS (
  SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
         2.0 * n1 * n2 / (n1 + n2) + 1.0 AS mu,
         sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
              / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))) AS sigma
  FROM mom
)
SELECT n_above, n_below, n_runs,
       ROUND(mu, 6) AS expected_runs,
       ROUND(CASE WHEN sigma > 0 THEN (n_runs - mu) / sigma END, 6) AS z_score
FROM stepped
"""

QUERIES["runs_test_daily_events"] = runs_test_daily_events
ORACLES["runs_test_daily_events"] = RUNS_TEST_SQL


# --- cohort LTV triangle -----------------------------------------------------


def cohort_ltv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, revenue tracked by months-since-cohort — the retention
    economics view (which acquisition cohorts keep spending).

    Month indices are exact integers (year*12 + month-1), revenue is
    exact integer cents, and the per-customer first-month table joins
    back co-partitioned on the customer key (both sides hash on it; no
    broadcast hint, AQE upgrades when small).  Averages are single
    divisions of exact integers."""
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
        & stats.finite("o_totalprice")
        & F.col("o_orderdate").isNotNull()
    )
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
        "midx"
    )
    base = orders.select(
        "o_custkey",
        midx,
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = base.groupBy("o_custkey").agg(F.min("midx").alias("cohort_idx"))
    joined = base.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_idx",
        (F.col("midx") - F.col("cohort_idx")).alias("age_months"),
        "cents",
    )
    out = joined.groupBy("cohort_idx", "age_months").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    return out.select(
        F.floor(F.col("cohort_idx") / 12).cast("int").alias("cohort_year"),
        (F.pmod(F.col("cohort_idx"), F.lit(12)) + 1).cast("int").alias(
            "cohort_month"
        ),
        "age_months",
        "n_customers",
        "n_orders",
        F.round(
            F.col("rev_cents").cast("double") / 100.0 / F.col("n_customers"), 6
        ).alias("rev_per_customer"),
    )


COHORT_LTV_SQL = """
WITH base AS (
  SELECT o_custkey,
         EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS midx,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND isfinite(o_totalprice)
    AND o_orderdate IS NOT NULL
),
first AS (SELECT o_custkey, MIN(midx) AS cohort_idx FROM base GROUP BY 1),
joined AS (
  SELECT b.o_custkey, f.cohort_idx, b.midx - f.cohort_idx AS age_months,
         b.cents
  FROM base b JOIN first f USING (o_custkey)
),
agg AS (
  SELECT cohort_idx, age_months,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS rev_cents
  FROM joined GROUP BY 1, 2
)
SELECT CAST(FLOOR(cohort_idx / 12.0) AS INTEGER) AS cohort_year,
       CAST(cohort_idx % 12 + 1 AS INTEGER) AS cohort_month,
       age_months,
       n_customers,
       n_orders,
       ROUND(CAST(rev_cents AS DOUBLE) / 100.0 / n_customers, 6)
         AS rev_per_customer
FROM agg
"""

QUERIES["cohort_ltv_orders"] = cohort_ltv_orders
ORACLES["cohort_ltv_orders"] = COHORT_LTV_SQL
