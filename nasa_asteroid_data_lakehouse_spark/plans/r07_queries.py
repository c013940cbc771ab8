"""Round-7 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

Families (VERDICT r05 ask #3 plus thinnest-coverage extensions):
embedding-space split-leakage audit (cross-split cosine near-dups,
the semantic complement of the lexical ``split_leakage_documents``),
span-level dedup REWRITE (emit the surviving text after removing
cross-document shared k-gram spans — the "Deduplicating Training
Data" operation itself, not just its measurement), deterministic
size-budgeted training-shard manifest, Poisson-bootstrap confidence
intervals, sparse lexical (tf-idf) cosine similarity join,
binary-payload block-level dedup, rendezvous-hash shard-churn audit,
seasonal-naive forecast error (MASE), split-centroid embedding drift,
LSH-kNN hubness audit, CDF apply round-trip, Pareto-skyline over the
bounded daily table, and an exactly-once streaming dedup replay.

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, data-derived denominators try_divide / NULLIF on both sides,
multi-term float sums on an integer lattice or in fixed textual
order, NULL grouping attributes are real groups (eqNullSafe
join-backs), NaN filtered via operators/stats.finite, NULL text joins
no shingle-keyed operator, NULL/NaN vectors join no vector operator.

No reference analog for any of these: the reference
(``src/etl/silver_to_gold.py``) stops at null-count profiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.llm import similarity, text
from nasa_asteroid_data_lakehouse_spark.operators.stats import finite

QUERIES: dict = {}
ORACLES: dict = {}

# DuckDB twin of llm/text.normalized_text (NULL propagates)
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# DuckDB twin of llm/text.tokens(normalized_text): blank -> [], NULL -> NULL
_TOKS = (
    f"CASE WHEN {_NORM} = '' THEN []::VARCHAR[] "
    f"ELSE string_split({_NORM}, ' ') END"
)
_VEC_VALID_SQL = (
    "embedding IS NOT NULL AND len(list_filter(embedding,"
    " x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
)
# a/b-aliased cosine for pair CTEs (llm_queries' _COS_AB is shadowed
# by a later x/b redefinition in that module — keep a local twin)
_COS_AB = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


# === Pareto skyline over the bounded daily table ==============================


def skyline_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of days by (event volume, total value): the
    days no other day dominates on BOTH axes — the classic skyline
    operator, run where it is scale-sane: over the O(days) bounded
    daily aggregate, so the quadratic dominance check is a ~31x31
    broadcast nested loop by construction (same bound argument as
    theil_sen_daily_events).  Value summed in exact integer cents."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & finite(F.col("value"))
    )
    daily = ev.groupBy(F.to_date("ts").alias("ds")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )
    dom = daily.select(
        F.col("ds").alias("ds_b"),
        F.col("n_events").alias("n_b"),
        F.col("cents").alias("c_b"),
    )
    survivors = daily.join(
        F.broadcast(dom),
        (F.col("n_b") >= F.col("n_events"))
        & (F.col("c_b") >= F.col("cents"))
        & ((F.col("n_b") > F.col("n_events")) | (F.col("c_b") > F.col("cents"))),
        "left_anti",
    )
    return survivors.orderBy("ds")


SKYLINE_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
  GROUP BY 1
)
SELECT ds, n_events, cents
FROM daily a
WHERE NOT EXISTS (
  SELECT 1 FROM daily b
  WHERE b.n_events >= a.n_events AND b.cents >= a.cents
    AND (b.n_events > a.n_events OR b.cents > a.cents)
)
ORDER BY ds
"""

QUERIES["skyline_daily_events"] = skyline_daily_events
ORACLES["skyline_daily_events"] = SKYLINE_SQL


# === Seasonal-naive forecast error (MASE) =====================================


def mase_seasonal_naive_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability audit per event type: mean absolute error of
    the seasonal-naive forecast (y_t = y_{t-7d}) scaled by the
    one-step naive error (y_t = y_{t-1d}) — the MASE every demand
    pipeline reports before fitting anything fancier.

    Daily totals in exact integer cents; absolute errors are BIGINT
    sums (order-exact), with the single double division at the end.
    Calendar-date joins (day = day - 7), NOT row lags, so gap days
    never misalign the season.  NULL event_type is a real group:
    the self-joins use null-safe key equality."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & finite(F.col("value"))
    )
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("ds")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))

    def lag_join(days: int, alias: str) -> DataFrame:
        lagged = daily.select(
            F.col("event_type").alias("t2"),
            F.col("ds").alias("ds2"),
            F.col("cents").alias("c2"),
        )
        return (
            daily.join(
                lagged,
                F.col("event_type").eqNullSafe(F.col("t2"))
                & (F.col("ds2") == F.date_sub(F.col("ds"), days)),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias(f"n_{alias}"),
                F.sum(F.abs(F.col("cents") - F.col("c2"))).alias(
                    f"abs_{alias}"
                ),
            )
        )
    snaive = lag_join(7, "snaive")
    naive = lag_join(1, "naive")
    joined = snaive.join(
        naive.select(
            F.col("event_type").alias("t3"), "n_naive", "abs_naive"
        ),
        F.col("event_type").eqNullSafe(F.col("t3")),
        "full_outer",
    )
    mae_s = F.try_divide(F.col("abs_snaive").cast("double"), F.col("n_snaive") * 100.0)
    mae_n = F.try_divide(F.col("abs_naive").cast("double"), F.col("n_naive") * 100.0)
    return (
        joined.select(
            F.coalesce(F.col("event_type"), F.col("t3")).alias("event_type"),
            F.coalesce(F.col("n_snaive"), F.lit(0)).alias("n_snaive"),
            F.coalesce(F.col("n_naive"), F.lit(0)).alias("n_naive"),
            F.round(mae_s, 6).alias("mae_snaive"),
            F.round(mae_n, 6).alias("mae_naive"),
            F.round(F.try_divide(mae_s, mae_n), 6).alias("mase"),
        )
        .orderBy("event_type")
    )


MASE_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(ts AS DATE) AS ds,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
  GROUP BY 1, 2
),
snaive AS (
  SELECT a.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_snaive,
         CAST(SUM(abs(a.cents - b.cents)) AS BIGINT) AS abs_snaive
  FROM daily a JOIN daily b
    ON a.event_type IS NOT DISTINCT FROM b.event_type
   AND b.ds = a.ds - 7
  GROUP BY 1
),
naive AS (
  SELECT a.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_naive,
         CAST(SUM(abs(a.cents - b.cents)) AS BIGINT) AS abs_naive
  FROM daily a JOIN daily b
    ON a.event_type IS NOT DISTINCT FROM b.event_type
   AND b.ds = a.ds - 1
  GROUP BY 1
)
SELECT COALESCE(s.event_type, n.event_type) AS event_type,
       COALESCE(s.n_snaive, 0) AS n_snaive,
       COALESCE(n.n_naive, 0) AS n_naive,
       ROUND(CAST(s.abs_snaive AS DOUBLE) / (s.n_snaive * 100.0), 6)
         AS mae_snaive,
       ROUND(CAST(n.abs_naive AS DOUBLE) / (n.n_naive * 100.0), 6)
         AS mae_naive,
       ROUND((CAST(s.abs_snaive AS DOUBLE) / (s.n_snaive * 100.0))
             / (CAST(n.abs_naive AS DOUBLE) / (n.n_naive * 100.0)), 6)
         AS mase
FROM snaive s FULL OUTER JOIN naive n
  ON s.event_type IS NOT DISTINCT FROM n.event_type
ORDER BY event_type
"""

QUERIES["mase_seasonal_naive_events"] = mase_seasonal_naive_events
ORACLES["mase_seasonal_naive_events"] = MASE_SQL


# === Binary-payload block-level dedup =========================================

_BLOCK_HEX_CHARS = 512  # 256 bytes per block


def payload_block_dedup_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-level (content-defined-lite) storage dedup audit: split
    every payload into fixed 256-byte blocks, count distinct block
    digests per source vs total blocks — the dedup ratio an
    object-store layer would realize with block-level addressing.

    The payload is the UTF-8 encoding of ``text`` (the corpus has no
    binary column; same synthesis as payload_dedup_sources), carried
    as hex so both engines slice identical strings.  Only the 32-byte
    sha2 digest of each block is shuffled — the blocks themselves
    never leave the map side.  NULL text = failed fetch, excluded
    (NULL-payload rule); NULL source is a real group."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    hexed = docs.select(
        "source",
        F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx"),
    ).where(F.length("hx") > 0)
    blocks = hexed.select(
        "source",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.length("hx") - 1) / _BLOCK_HEX_CHARS).cast("int"),
            )
        ).alias("i"),
        F.col("hx"),
    ).select(
        "source",
        F.sha2(
            F.substring(
                F.col("hx"), F.col("i") * _BLOCK_HEX_CHARS + 1, _BLOCK_HEX_CHARS
            ),
            256,
        ).alias("digest"),
    )
    return (
        blocks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_blocks"),
            F.countDistinct("digest").alias("distinct_blocks"),
        )
        .select(
            "source",
            "total_blocks",
            "distinct_blocks",
            F.round(
                1.0
                - F.try_divide(
                    F.col("distinct_blocks").cast("double"),
                    F.col("total_blocks"),
                ),
                6,
            ).alias("dedup_ratio"),
        )
        .orderBy("source")
    )


PAYLOAD_BLOCK_SQL = f"""
WITH hexed AS (
  SELECT source, hex(encode(text)) AS hx
  FROM documents WHERE text IS NOT NULL AND len(hex(encode(text))) > 0
),
blocks AS (
  SELECT source,
         sha256(substring(hx, CAST(i AS INTEGER) * {_BLOCK_HEX_CHARS} + 1,
                          {_BLOCK_HEX_CHARS})) AS digest
  FROM (
    SELECT source, hx,
           unnest(range((len(hx) - 1) // {_BLOCK_HEX_CHARS} + 1)) AS i
    FROM hexed
  ) t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total_blocks,
       CAST(COUNT(DISTINCT digest) AS BIGINT) AS distinct_blocks,
       ROUND(1.0 - CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 6)
         AS dedup_ratio
FROM blocks
GROUP BY source
ORDER BY source
"""

QUERIES["payload_block_dedup_documents"] = payload_block_dedup_documents
ORACLES["payload_block_dedup_documents"] = PAYLOAD_BLOCK_SQL


# === Rendezvous-hash shard churn ==============================================


def rendezvous_shard_churn_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consistent-placement audit: assign every document to a shard by
    rendezvous (highest-random-weight) hashing at N=8 and N=9 shards
    and measure how many documents MOVE — rendezvous moves only ~1/9
    of keys on scale-out, where mod-hashing reshuffles ~8/9.  The
    decision metric for growing a training-shard fleet in place.

    Per-doc work is a bounded 9-way explode + argmax — embarrassingly
    parallel, no shuffle until the final 9-row aggregate."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    ).select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(8))).alias("s"),
    ).select(
        "doc_id",
        "s",
        F.md5(
            F.concat_ws("#", F.col("doc_id").cast("string"), F.col("s"))
        ).alias("key"),
    )
    at9 = keyed.groupBy("doc_id").agg(F.max_by("s", "key").alias("shard9"))
    at8 = (
        keyed.where(F.col("s") < 8)
        .groupBy("doc_id")
        .agg(F.max_by("s", "key").alias("shard8"))
    )
    return (
        at9.join(at8, "doc_id")
        .groupBy("shard9")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0)
            ).cast("long").alias("n_moved"),
        )
        .select(
            "shard9",
            "n_docs",
            "n_moved",
            F.round(
                F.try_divide(F.col("n_moved").cast("double"), F.col("n_docs")),
                6,
            ).alias("moved_share"),
        )
        .orderBy("shard9")
    )


RENDEZVOUS_SQL = """
WITH keyed AS (
  SELECT doc_id, CAST(i AS INTEGER) AS s,
         md5(CAST(doc_id AS VARCHAR) || '#' || CAST(CAST(i AS INTEGER) AS VARCHAR)) AS key
  FROM documents, range(9) r(i)
  WHERE doc_id IS NOT NULL
),
at9 AS (SELECT doc_id, arg_max(s, key) AS shard9 FROM keyed GROUP BY doc_id),
at8 AS (SELECT doc_id, arg_max(s, key) AS shard8 FROM keyed WHERE s < 8 GROUP BY doc_id)
SELECT shard9,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved,
       ROUND(CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS moved_share
FROM at9 JOIN at8 USING (doc_id)
GROUP BY shard9
ORDER BY shard9
"""

QUERIES["rendezvous_shard_churn_documents"] = (
    rendezvous_shard_churn_documents
)
ORACLES["rendezvous_shard_churn_documents"] = RENDEZVOUS_SQL


# === Poisson-bootstrap confidence interval ====================================

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds (cumulative pmf), weight = #occurrences
_POIS_CUM = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def bootstrap_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap: a 95% CI for the mean order
    value without ever materializing a resample.  Each order
    contributes to resample b with weight ~ Poisson(1), derived
    DETERMINISTICALLY from md5(orderkey, b) — the streaming-bootstrap
    trick (one pass, B-way map-side fan-out, no sampling state), and
    reproducible across engines because the randomness is a pure hash
    function.  Resample means are exact integer-cent ratios; the CI is
    the 2.5/97.5 percentile of the 32 bounded resample rows."""
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey").isNotNull() & finite(F.col("o_totalprice"))
    ).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # One md5 is 32 hex chars = FOUR independent 8-hex uniforms, so
    # B=32 resamples cost 8 hashes per row, not 32 — the md5 is the
    # whole map-side cost at 100 TB, so quarter it.
    fan = (
        orders.select(
            "o_orderkey",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B // 4 - 1))).alias("h"),
        )
        .select(
            "cents",
            "h",
            F.md5(
                F.concat_ws(
                    "#",
                    F.lit("boot-v1"),
                    F.col("o_orderkey").cast("string"),
                    F.col("h"),
                )
            ).alias("hx"),
        )
        .select(
            "cents",
            "h",
            "hx",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        )
        .select(
            "cents",
            (F.col("h") * 4 + F.col("j")).alias("b"),
            (
                F.conv(
                    F.substring(F.col("hx"), F.col("j") * 8 + 1, 8), 16, 10
                ).cast("long")
                / F.lit(4294967296.0)
            ).alias("u"),
        )
    )
    # ascending CASE ladder (the idcg when-chain lesson)
    w = F.when(F.col("u") < _POIS_CUM[0], 0)
    for i in range(1, len(_POIS_CUM)):
        w = w.when(F.col("u") < _POIS_CUM[i], i)
    w = w.otherwise(len(_POIS_CUM))
    per_b = (
        fan.select("b", "cents", w.cast("long").alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wsum"),
            F.sum("w").alias("n_w"),
        )
        .select(
            F.try_divide(
                F.col("wsum").cast("double"), F.col("n_w") * 100.0
            ).alias("mean_b")
        )
    )
    base = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("tot_cents"),
    )
    ci = per_b.agg(
        F.expr("percentile(mean_b, 0.025)").alias("lo"),
        F.expr("percentile(mean_b, 0.975)").alias("hi"),
    )
    return (
        base.crossJoin(F.broadcast(ci))
        .select(
            "n_orders",
            F.round(
                F.try_divide(
                    F.col("tot_cents").cast("double"), F.col("n_orders") * 100.0
                ),
                6,
            ).alias("mean_value"),
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
        )
    )


def _pois_case_sql() -> str:
    parts = []
    for i, c in enumerate(_POIS_CUM):
        parts.append(f"WHEN u < {c!r} THEN {i}")
    return "CASE " + " ".join(parts) + f" ELSE {len(_POIS_CUM)} END"


BOOTSTRAP_SQL = f"""
WITH orders_c AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
    AND isfinite(o_totalprice)
),
hashed AS (
  SELECT cents, CAST(i AS INTEGER) AS h,
    md5('boot-v1' || '#' || CAST(o_orderkey AS VARCHAR)
        || '#' || CAST(CAST(i AS INTEGER) AS VARCHAR)) AS hx
  FROM orders_c, range({_BOOT_B} // 4) r(i)
),
fan AS (
  SELECT cents, h * 4 + CAST(j AS INTEGER) AS b,
    ('0x' || substr(hx, CAST(j AS INTEGER) * 8 + 1, 8))::BIGINT
      / 4294967296.0 AS u
  FROM hashed, range(4) r2(j)
),
per_b AS (
  SELECT b,
         CAST(SUM(w * cents) AS DOUBLE) / (SUM(w) * 100.0) AS mean_b
  FROM (SELECT b, cents, CAST({{POIS}} AS BIGINT) AS w FROM fan) t
  GROUP BY b
),
ci AS (
  SELECT quantile_cont(mean_b, 0.025) AS lo,
         quantile_cont(mean_b, 0.975) AS hi
  FROM per_b
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS tot_cents
  FROM orders_c
)
SELECT n_orders,
       ROUND(CAST(tot_cents AS DOUBLE) / (n_orders * 100.0), 6) AS mean_value,
       ROUND(lo, 6) AS ci_lo,
       ROUND(hi, 6) AS ci_hi
FROM base, ci
""".replace("{POIS}", _pois_case_sql())

QUERIES["bootstrap_ci_orders"] = bootstrap_ci_orders
ORACLES["bootstrap_ci_orders"] = BOOTSTRAP_SQL


# === Size-budgeted deterministic shard manifest ================================

_SHARD_BUDGET_BYTES = 200_000


def shard_manifest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-budgeted training-shard manifest (VERDICT
    r05 ask #3c): documents are laid out in a reproducible
    pseudo-random order (md5 shuffle key — the llm/sharding
    primitive), then cut into shards so no shard's byte total exceeds
    the budget except by its own last document (the classic greedy
    cut: shard = floor(exclusive-prefix-bytes / budget)).

    NOT a global window cumsum.  The shuffle key is a uniform hex
    string, so its first two hex digits are an ORDER-MONOTONE 256-way
    bucketing: per-bucket byte mass is one hash aggregate, exclusive
    base offsets come from a window over the 256-row bucket table, and
    the exact prefix sum is base + within-bucket cumsum (window
    PARTITIONED by bucket) — the budget_select decomposition, reused
    for the manifest every 100 TB export actually ships."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select(
            "doc_id",
            F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias(
                "n_bytes"
            ),
        )
    )
    keyed = docs.select(
        "doc_id",
        "n_bytes",
        F.md5(
            F.concat_ws("||", F.lit("shards-v1-order"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    ).withColumn("bkt", F.substring("skey", 1, 2))
    mass = keyed.groupBy("bkt").agg(F.sum("n_bytes").alias("mass"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = mass.select(
        "bkt", F.coalesce(F.sum("mass").over(wb), F.lit(0)).alias("base")
    )
    wi = (
        Window.partitionBy("bkt")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        keyed.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "before",
            F.col("base") + F.sum("n_bytes").over(wi) - F.col("n_bytes"),
        )
        .withColumn(
            "shard",
            F.floor(F.col("before") / _SHARD_BUDGET_BYTES).cast("int"),
        )
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("skey").alias("first_key"),
            F.max("skey").alias("last_key"),
        )
        .orderBy("shard")
    )


SHARD_MANIFEST_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5('shards-v1-order' || '||' || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
assigned AS (
  SELECT *,
    CAST(floor((SUM(n_bytes) OVER (ORDER BY skey, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_bytes)
                / {_SHARD_BUDGET_BYTES}) AS INTEGER) AS shard
  FROM keyed
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(skey) AS first_key,
       MAX(skey) AS last_key
FROM assigned
GROUP BY shard
ORDER BY shard
"""

QUERIES["shard_manifest_documents"] = shard_manifest_documents
ORACLES["shard_manifest_documents"] = SHARD_MANIFEST_SQL


# === Split-centroid embedding drift ===========================================

_DRIFT_SCALE = 1_000_000
_DRIFT_CAP = 10_000.0  # unit-scale embeddings; beyond this = encoder failure


def centroid_drift_splits_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/val/test centroid drift per embedding dimension: the
    per-split mean vector, computed EXACTLY by scaling components to a
    1e-6 integer lattice and summing BIGINTs (order-exact — the
    stylometry lesson), plus the largest pairwise gap per dimension.
    A systematic gap on any dimension means the split hash correlates
    with content — the embedding-space analog of split leakage.

    Map-side shape: one posexplode projection into a (split, dim)
    hash aggregate — dim-keyed shuffle of 3x64 partials, no window,
    no join until the bounded 192-row pivot.  Components beyond
    +-1e4 are excluded WITH their row (both engines): a magnitude
    that size is a failed encode, and it would also overflow the
    lattice at corpus scale."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
        & similarity.vec_valid(F.col("embedding"))
        & ~F.exists(
            F.col("embedding"), lambda x: F.abs(x.cast("double")) > _DRIFT_CAP
        )
    )
    split = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "||", F.lit("esplit-v1"), F.col("vec_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    tagged = emb.select(
        F.when(split <= 7, "train").when(split == 8, "val").otherwise("test")
        .alias("split"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    agg = tagged.groupBy("split", "dim").agg(
        F.sum(
            F.floor(F.col("x").cast("double") * _DRIFT_SCALE).cast("long")
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = agg.select(
        "split",
        "dim",
        F.round(
            F.try_divide(F.col("s").cast("double"), F.col("n") * float(_DRIFT_SCALE)),
            6,
        ).alias("c"),
    )
    pivoted = (
        cent.groupBy("dim")
        .pivot("split", ["train", "val", "test"])
        .agg(F.first("c"))
        .select(
            "dim",
            F.col("train").alias("c_train"),
            F.col("val").alias("c_val"),
            F.col("test").alias("c_test"),
        )
    )
    gap = F.greatest(
        F.abs(F.col("c_train") - F.col("c_val")),
        F.abs(F.col("c_train") - F.col("c_test")),
        F.abs(F.col("c_val") - F.col("c_test")),
    )
    return pivoted.select(
        "dim", "c_train", "c_val", "c_test", F.round(gap, 6).alias("max_gap")
    ).orderBy("dim")


CENTROID_DRIFT_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding,
    CASE WHEN ('0x' || substr(md5('esplit-v1' || '||' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 <= 7 THEN 'train'
         WHEN ('0x' || substr(md5('esplit-v1' || '||' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 8 THEN 'val'
         ELSE 'test' END AS split
  FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
    AND len(list_filter(embedding, x -> abs(x::DOUBLE) > {_DRIFT_CAP!r})) = 0
),
tagged AS (
  SELECT split, CAST(i AS INTEGER) AS dim,
         embedding[CAST(i AS INTEGER) + 1]::DOUBLE AS x
  FROM (SELECT split, embedding, unnest(range(len(embedding))) AS i FROM valid) t
),
agg AS (
  SELECT split, dim,
         CAST(SUM(CAST(floor(x * {_DRIFT_SCALE}) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tagged GROUP BY split, dim
),
cent AS (
  SELECT split, dim,
         ROUND(CAST(s AS DOUBLE) / (n * {float(_DRIFT_SCALE)!r}), 6) AS c
  FROM agg
),
pivoted AS (
  SELECT dim,
         MAX(CASE WHEN split = 'train' THEN c END) AS c_train,
         MAX(CASE WHEN split = 'val' THEN c END) AS c_val,
         MAX(CASE WHEN split = 'test' THEN c END) AS c_test
  FROM cent GROUP BY dim
)
SELECT dim, c_train, c_val, c_test,
       ROUND(GREATEST(abs(c_train - c_val), abs(c_train - c_test),
                      abs(c_val - c_test)), 6) AS max_gap
FROM pivoted
ORDER BY dim
"""

QUERIES["centroid_drift_splits_embeddings"] = (
    centroid_drift_splits_embeddings
)
ORACLES["centroid_drift_splits_embeddings"] = CENTROID_DRIFT_SQL


# === Embedding-space split-leakage audit ======================================

_ESL_THRESHOLD = 0.35


def embedding_split_leakage_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-leakage audit in EMBEDDING space (VERDICT r05 ask #3a):
    cosine near-dup pairs (sign-LSH bucket self-join + exact verify,
    the embedding_near_dups machinery) whose members land in different
    train/val/test splits — semantic leakage the lexical
    split_leakage_documents audit cannot see (a paraphrase shares no
    3-gram but sits on top of its source in embedding space).

    Split assignment is the same deterministic md5 hash used by
    centroid_drift; the pair table is bucket-keyed (never all-pairs),
    so at 100 TB this is the marginal cost of two broadcast joins on
    top of the dedup pass the pipeline already runs.  The plane count
    is DERIVED from corpus size via the occupancy law (promoted from
    fixed 4 planes, VERDICT r07 ask #5): one bounded count, then
    ``similarity.auto_planes`` keeps mean bucket occupancy <= 64 —
    bucket ids are the P-bit prefix of the 16-plane code, identically
    derivable in the oracle as code_16 % 2^P.  At the driver SF
    (n=500) the law picks 4 planes, exactly the old fixed setting."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull()
    )
    n = emb.where(similarity.vec_valid(F.col("embedding"))).count()
    pairs = similarity.embedding_near_dup_pairs(
        emb, num_planes=similarity.auto_planes(n), threshold=_ESL_THRESHOLD
    )
    split_int = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "||", F.lit("esplit-v1"), F.col("vec_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    splits = emb.select(
        "vec_id",
        F.when(split_int <= 7, "train")
        .when(split_int == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = splits.select(
        F.col("vec_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("vec_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_x"),
            F.greatest("split_a", "split_b").alias("split_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_leaky_pairs"),
            F.max("cosine_sim").alias("max_cosine"),
        )
        .orderBy("split_x", "split_y")
    )


def _esl_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _bucket_sql,
    )

    split_expr = (
        "CASE WHEN ('0x' || substr(md5('esplit-v1' || '||' ||"
        " CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 <= 7 THEN 'train'"
        " WHEN ('0x' || substr(md5('esplit-v1' || '||' ||"
        " CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 8 THEN 'val'"
        " ELSE 'test' END"
    )
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import (
        AUTO_PLANES_MAX,
        AUTO_PLANES_MIN,
        AUTO_PLANES_TARGET_OCC,
    )

    return f"""
WITH valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
params AS (
  SELECT COALESCE(
    (SELECT MIN(p)
     FROM (SELECT unnest(range({AUTO_PLANES_MIN}, {AUTO_PLANES_MAX} + 1)) AS p) ps,
          (SELECT COUNT(*) AS n FROM valid) cn
     WHERE {AUTO_PLANES_TARGET_OCC} * (CAST(1 AS BIGINT) << p) >= cn.n),
    {AUTO_PLANES_MAX}) AS p
),
bucketed AS (
  SELECT vec_id, embedding,
         {_bucket_sql(AUTO_PLANES_MAX, "embedding")}
           % (CAST(1 AS BIGINT) << (SELECT p FROM params)) AS bucket
  FROM valid
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_COS_AB}, 6) AS cosine_sim
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE ROUND({_COS_AB}, 6) >= {_ESL_THRESHOLD}
),
splits AS (
  SELECT vec_id, {split_expr} AS split
  FROM embeddings WHERE vec_id IS NOT NULL
)
SELECT LEAST(sa.split, sb.split) AS split_x,
       GREATEST(sa.split, sb.split) AS split_y,
       CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs,
       MAX(cosine_sim) AS max_cosine
FROM pairs
JOIN splits sa ON sa.vec_id = pairs.id_a
JOIN splits sb ON sb.vec_id = pairs.id_b
WHERE sa.split <> sb.split
GROUP BY 1, 2
ORDER BY split_x, split_y
"""


QUERIES["embedding_split_leakage_embeddings"] = (
    embedding_split_leakage_embeddings
)
ORACLES["embedding_split_leakage_embeddings"] = _esl_sql()


# === Sparse lexical (tf-idf) cosine similarity join ===========================

_TFIDF_DF_CAP = 50
_TFIDF_SCALE = 1000
_TFIDF_THRESHOLD = 0.30
_TFIDF_TOPK = 50


def tfidf_cosine_pairs_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sparse lexical near-dup pairs: cosine similarity of tf-idf
    vectors via a TERM-KEYED equi-join (partial dot products summed
    per pair) — the sparse-vector similarity join that complements
    dense-embedding cosine and set-based Jaccard.

    Integer-exact end to end (the stylometry lesson): idf is rounded
    to 1e-6, weights floor-scaled to a 1e-3 lattice, so dot products
    and squared norms are BIGINT sums (order-exact); the single
    double division happens once per pair.  Terms with df > 50
    are dropped on BOTH sides — the standard
    stop-term prune that also caps the join's per-key fan-out at
    scale (df² pairs per term)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.explode(text.tokens(text.normalized_text("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_corpus"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weighted = (
        tf.join(df_t.where(F.col("df") <= _TFIDF_DF_CAP), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.round(
                    F.log(
                        F.col("n_corpus").cast("double") / F.col("df")
                    ),
                    6,
                )
                * _TFIDF_SCALE
            ).cast("long").alias("w"),
        )
        .where(F.col("w") > 0)
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    wa = weighted.select(
        F.col("doc_id").alias("id_a"), "term", F.col("w").alias("w_a")
    )
    wb = weighted.select(
        F.col("doc_id").alias("id_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        wa.join(wb, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2_b"))
    scored = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    F.col("dot").cast("double"),
                    F.sqrt(F.col("n2_a").cast("double"))
                    * F.sqrt(F.col("n2_b").cast("double")),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= _TFIDF_THRESHOLD)
    )
    return scored.orderBy(
        F.desc("cosine_sim"), "id_a", "id_b"
    ).limit(_TFIDF_TOPK)


TFIDF_COSINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
n_docs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
df_t AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
weighted AS (
  SELECT doc_id, tf.term,
         CAST(floor(tf * ROUND(ln(CAST(n_corpus AS DOUBLE) / df), 6)
                    * {_TFIDF_SCALE}) AS BIGINT) AS w
  FROM tf
  JOIN df_t ON tf.term = df_t.term AND df_t.df <= {_TFIDF_DF_CAP}
  CROSS JOIN n_docs
),
wpos AS (SELECT * FROM weighted WHERE w > 0),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM wpos GROUP BY 1),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
  FROM wpos a JOIN wpos b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b,
         ROUND(CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
               6) AS cosine_sim
  FROM dots
  JOIN norms na ON na.doc_id = dots.id_a
  JOIN norms nb ON nb.doc_id = dots.id_b
)
SELECT id_a, id_b, cosine_sim
FROM scored
WHERE cosine_sim >= {_TFIDF_THRESHOLD}
ORDER BY cosine_sim DESC, id_a, id_b
LIMIT {_TFIDF_TOPK}
"""

QUERIES["tfidf_cosine_pairs_documents"] = tfidf_cosine_pairs_documents
ORACLES["tfidf_cosine_pairs_documents"] = TFIDF_COSINE_SQL


# === LSH-kNN hubness audit ====================================================



def hubness_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the LSH-approximate kNN graph: how often each
    vector appears in other vectors' top-5 — the k-occurrence
    (in-degree) histogram.  Heavy right tails (hub vectors that are
    "everyone's neighbor") degrade retrieval diversity and are the
    standard high-dimensionality health check for an embedding store.

    PROMOTED to the occupancy law (VERDICT r07 ask #5): this query was
    the fixed-plane form (4 planes — within-bucket join quadratic in
    corpus size, the one documented scale hot-spot); the registered
    shape is now the law-derived one — plane count from corpus size so
    bucket occupancy stays <= 64 at any scale (1M-vector verify 83.2 s
    at law-picked 14 planes vs 570.9 s hand-tuned, BASELINE.md).  It
    delegates to :func:`r08_queries.hubness_autoplane_embeddings`, the
    staged twin that proved the law — one implementation, zero drift;
    the fixed-plane form survives only in the with_lsh_bucket unit
    tests.  At the driver SF (n=500) the law picks 4 planes, exactly
    the old fixed setting, so the historical driver greens pin the
    same output."""
    from nasa_asteroid_data_lakehouse_spark.plans import r08_queries

    return r08_queries.hubness_autoplane_embeddings(spark, sf_dir)


def _hub_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans import r08_queries

    return r08_queries.HUBNESS_AUTOPLANE_SQL


QUERIES["hubness_lsh_embeddings"] = hubness_lsh_embeddings
ORACLES["hubness_lsh_embeddings"] = _hub_sql()


# === CDF apply round-trip =====================================================


def cdc_apply_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed APPLY: reconstruct the latest snapshot from an old
    snapshot + the CDF between them, and prove it equals the real
    snapshot — the downstream-consumer contract (a replica applying
    `changes()` must converge) that versioned_table_cdf_orders'
    count-level check cannot see.

    Mutations are deterministic and PAYLOADS ARE KEY-DERIVED (seg =
    key % 100), so duplicate-key source rows collapse identically on
    both engines.  Synthetic insert keys are NEGATED (-key - 1), never
    offset — disjoint from the real keyspace at every scale factor
    (the ADVICE r05 lesson).  Apply algebra is
    ``VersionedTable.apply_changes`` — survivors = old snapshot minus
    ALL feed keys, plus the image of every non-delete change type
    including the schema-evolution types (ADVICE r06: a type-filtered
    apply diverges across column drops/adds; the schema-evolution
    convergence case is pinned in
    tests/test_versioned_table.py::test_apply_changes_converges_across_schema_evolution);
    the full-outer verify is null-safe on every column.

    Scale: apply is two key-keyed anti joins + a union; verify is one
    key-keyed full-outer join — all bucket-local on the table's own
    key hash at 100 TB."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey")
        .distinct()
        .select("o_orderkey", (F.col("o_orderkey") % 100).alias("seg"))
    )
    with query_scratch("ndl_cdcapply_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v0 = t.create(base, keys=["o_orderkey"])
        updates = base.where(F.col("o_orderkey") % 6 == 0).select(
            "o_orderkey", (F.col("seg") + 1000).alias("seg")
        )
        inserts = base.where(F.col("o_orderkey") % 11 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"),
            (F.col("o_orderkey") % 100).alias("seg"),
        )
        t.upsert(updates.unionByName(inserts))
        v2 = t.delete_where(
            (F.col("o_orderkey") >= 0) & (F.col("o_orderkey") % 13 == 0)
        )
        snap0 = t.read(v0)
        actual = t.read(v2)
        ch = t.changes(v0, v2)
        recon = VersionedTable.apply_changes(snap0, ch, keys=["o_orderkey"])
        a = actual.select("o_orderkey", F.col("seg").alias("seg_a"))
        r = recon.select("o_orderkey", F.col("seg").alias("seg_r"))
        verify = a.join(r, "o_orderkey", "full_outer")
        out = verify.agg(
            F.count("seg_a").alias("n_actual"),
            F.count("seg_r").alias("n_recon"),
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.col("seg_a").eqNullSafe(F.col("seg_r")), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("n_mismatch"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("seg_a").isNotNull(), F.col("o_orderkey")
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("long").alias("key_sum_actual"),
        )
        return out.localCheckpoint(eager=True)


CDC_APPLY_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
-- final state after: upsert (seg+1000 for key%6=0; insert -key-1 for
-- key%11=0), then delete key>=0 AND key%13=0
finals AS (
  SELECT key,
         CASE WHEN key % 6 = 0 THEN key % 100 + 1000 ELSE key % 100 END AS seg
  FROM k WHERE NOT (key % 13 = 0)
  UNION ALL
  SELECT -key - 1 AS key, key % 100 AS seg
  FROM k WHERE key % 11 = 0 AND NOT ((-key - 1) >= 0 AND (-key - 1) % 13 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_actual,
       CAST(COUNT(*) AS BIGINT) AS n_recon,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(COALESCE(SUM(key), 0) AS BIGINT) AS key_sum_actual
FROM finals
"""

QUERIES["cdc_apply_roundtrip_orders"] = cdc_apply_roundtrip_orders
ORACLES["cdc_apply_roundtrip_orders"] = CDC_APPLY_SQL


# === Streaming exactly-once dedup replay ======================================


def streaming_dedup_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming DEDUP: replay the event log as a 4-file
    stream through ``dropDuplicatesWithinWatermark`` (RocksDB-free
    default state store, append mode) and prove the deduped sink
    carries exactly the DISTINCT event_id set — the in-stream twin of
    the batch exact-dedup operator, and the fourth real streaming
    replay (rollup: fold; score: stream-static join; session: expiring
    merge state; here: KEYED DEDUP STATE).

    The watermark horizon is DERIVED FROM THE DATA (ADVICE r06): a
    fixed 365-day horizon silently stops matching the DISTINCT oracle
    at any scale factor whose event span exceeds it (state expires /
    late rows drop).  One bounded min/max aggregate sizes the horizon
    to the replayed span plus a 2-day margin (floor 365 days), so
    dedup state never expires mid-replay and the stream's keep-set is
    exactly ``DISTINCT event_id`` regardless of file composition —
    which payload survives a conflicting duplicate is arrival-order
    dependent, so the verified output is KEY-DERIVED ONLY.  At scale
    the horizon is the dedup-correctness window: duplicates farther
    apart than the horizon are the upstream batch deduper's job (this
    replay verifies the full log, so it sizes to the full span)."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
        # watermarks reject TIMESTAMP_NTZ; UTC-pinned session makes the
        # LTZ cast value-identical (same as streaming_session_replay)
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    span = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    horizon_days = 365
    if span["lo"] is not None and span["hi"] is not None:
        span_days = (span["hi"] - span["lo"]).days + 2
        horizon_days = max(horizon_days, span_days)

    with query_scratch("ndl_stream_dedup_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        ev.repartition(4).write.parquet(src)
        deduped = (
            file_stream(spark, ev, src)
            .withWatermark("ts", f"{horizon_days} days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        got = drain_to_parquet(spark, deduped, f"{tmp}/deduped", src)
        return (
            got.agg(
                F.count(F.lit(1)).alias("n_unique"),
                F.sum("event_id").alias("key_sum"),
                F.min("event_id").alias("key_min"),
                F.max("event_id").alias("key_max"),
            )
            .localCheckpoint(eager=True)
        )


STREAMING_DEDUP_SQL = """
WITH d AS (
  SELECT DISTINCT event_id FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(event_id) AS BIGINT) AS key_sum,
       CAST(MIN(event_id) AS BIGINT) AS key_min,
       CAST(MAX(event_id) AS BIGINT) AS key_max
FROM d
"""

QUERIES["streaming_dedup_replay_events"] = streaming_dedup_replay_events
ORACLES["streaming_dedup_replay_events"] = STREAMING_DEDUP_SQL


# === Span-level dedup REWRITE =================================================

_SPAN_K = 3


def span_dedup_rewrite_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup REWRITE (VERDICT r05 ask #3b): emit each
    document's SURVIVING text after removing every token covered by a
    cross-document shared 3-gram — the "Deduplicating Training
    Data" operation itself, where dup_span_coverage only measures.

    Semantics: the corpus-wide owner of a 3-gram is the lowest
    doc_id containing it; in any LATER doc, all 3 token
    positions under a shared gram are removed, and the survivor is the
    remaining tokens in document order (the rewrite operates on the
    normalized token stream; within-doc repeats are NOT removed — the
    owner keeps its own spans).  Docs shorter than 3 tokens
    have no spans and always survive whole.  Output is per-doc counts
    plus the md5 of the surviving text (hash-stable, corpus-size
    independent row width).

    Scale shape: every stage is token-, gram-, or doc-keyed — the
    position explode is x1, the gram explode x1, the covered-position
    explode x3; survivor assembly is a doc-keyed sort of ONLY
    that doc's kept tokens (array_sort over collect_list — bounded by
    document length, never a corpus window).

    KEY-UNIQUE PRECONDITION (dup_span_coverage's contract): survivor
    assembly groups by doc_id, so duplicate ids with conflicting text
    interleave arbitrarily — duplicate ids are the upstream exact
    dedup's job."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id", text.tokens(text.normalized_text("text")).alias("toks")
    )
    exploded = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    grams_arr = F.when(
        F.size("toks") >= _SPAN_K,
        F.expr(
            f"transform(sequence(0, size(toks) - {_SPAN_K}),"
            f" j -> concat_ws(' ', slice(toks, j + 1, {_SPAN_K})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = base.select("doc_id", F.posexplode(grams_arr).alias("s", "gram"))
    owner = sh.groupBy("gram").agg(F.min("doc_id").alias("own"))
    dup_starts = (
        sh.join(owner, "gram").where(F.col("own") < F.col("doc_id"))
        .select("doc_id", "s")
    )
    covered = dup_starts.select(
        "doc_id",
        F.explode(F.sequence(F.col("s"), F.col("s") + (_SPAN_K - 1))).alias(
            "pos"
        ),
    ).distinct()
    kept = exploded.join(covered, ["doc_id", "pos"], "left_anti")
    surv = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x.tok,
            ),
            " ",
        ).alias("survivor"),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(surv, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.md5(F.coalesce(F.col("survivor"), F.lit(""))).alias(
                "survivor_md5"
            ),
        )
    )


SPAN_REWRITE_SQL = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
tok AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[CAST(i AS INTEGER) + 1] AS tok
  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM base) t
),
sh AS (
  SELECT doc_id, CAST(j AS INTEGER) AS s,
         array_to_string(toks[CAST(j AS INTEGER) + 1:CAST(j AS INTEGER) + {_SPAN_K}], ' ') AS gram
  FROM (
    SELECT doc_id, toks,
           unnest(range(CASE WHEN len(toks) >= {_SPAN_K}
                             THEN len(toks) - {_SPAN_K} + 1 ELSE 0 END)) AS j
    FROM base
  ) t
),
owner AS (SELECT gram, MIN(doc_id) AS own FROM sh GROUP BY gram),
dup_starts AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN owner USING (gram)
  WHERE owner.own < sh.doc_id
),
covered AS (
  SELECT DISTINCT doc_id, s + CAST(d AS INTEGER) AS pos
  FROM dup_starts, (SELECT unnest(range({_SPAN_K})) AS d) ds
),
kept AS (
  SELECT tok.doc_id, tok.pos, tok.tok
  FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c
    WHERE c.doc_id = tok.doc_id AND c.pos = tok.pos
  )
),
surv AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS survivor
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - COALESCE(s.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(s.survivor, '')) AS survivor_md5
FROM base b LEFT JOIN surv s USING (doc_id)
"""

QUERIES["span_dedup_rewrite_documents"] = span_dedup_rewrite_documents
ORACLES["span_dedup_rewrite_documents"] = SPAN_REWRITE_SQL
