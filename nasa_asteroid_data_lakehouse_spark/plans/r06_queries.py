"""Round-6 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

Families: seasonal decomposition (STL-style trend/seasonal/residual),
survival analysis (Kaplan–Meier over inter-order gaps), score
calibration (reliability diagram of a quality score vs exact-dup
membership), decision-stump information gain, stylometric authorship
distance (Burrows' Delta), iterative linear algebra (PCA power
iteration, Markov stationary distribution — both lattice-rounded per
iteration, the pagerank discipline), and rank-quality retrieval
metrics (NDCG@k / MRR of the LSH probe vs the exact ranking).

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, data-derived denominators try_divide / NULLIF on both sides,
multi-term float sums in fixed textual order (never SUM over term
rows) unless the pagerank lattice argument applies, iterative
algorithms round to a fixed lattice EVERY iteration, NULL
grouping attributes are real groups or excluded identically on both
sides, NaN filtered via operators/stats.finite where a metric feeds
entropy/quantiles.

No reference analog for any of these: the reference
(``src/etl/silver_to_gold.py``) stops at null-count profiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
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


# === STL-style seasonal decomposition ========================================


def stl_decomposition_daily_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive seasonal decomposition of the daily value series:
    trend = centered 7-row moving average (NULL at the edges where the
    frame is short), seasonal = mean-centered day-of-week average of
    the detrended series, residual = detrended - seasonal.

    One shuffle (the daily aggregate); every window and join after
    that runs on the O(days) bounded table — the same scale contract
    as theil_sen / changepoint / cusum_daily.  Day-of-week is pinned
    to ISO (Mon=0) on both engines."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & finite(F.col("value"))
    )
    daily = ev.groupBy(F.to_date("ts").alias("ds")).agg(
        F.round(F.sum("value"), 6).alias("total")
    )
    w7 = Window.orderBy("ds").rowsBetween(-3, 3)
    t = daily.select(
        "ds",
        "total",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.round(F.avg("total").over(w7), 6)
        ).alias("trend"),
        F.expr("weekday(ds)").cast("bigint").alias("dow"),
    ).withColumn("detrended", F.round(F.col("total") - F.col("trend"), 6))
    sea_raw = (
        t.where(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(F.round(F.avg("detrended"), 9).alias("sea_raw"))
    )
    grand = sea_raw.agg(F.round(F.avg("sea_raw"), 9).alias("g"))
    sea = sea_raw.crossJoin(F.broadcast(grand)).select(
        "dow", F.round(F.col("sea_raw") - F.col("g"), 6).alias("seasonal")
    )
    return (
        t.join(F.broadcast(sea), "dow", "left")
        .select(
            "ds",
            "total",
            "trend",
            F.when(F.col("trend").isNotNull(), F.col("seasonal")).alias(
                "seasonal"
            ),
            F.when(
                F.col("trend").isNotNull(),
                F.round(F.col("detrended") - F.col("seasonal"), 6),
            ).alias("residual"),
        )
    )


STL_DECOMPOSITION_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, ROUND(SUM(value), 6) AS total
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
  GROUP BY CAST(ts AS DATE)
),
t AS (
  SELECT ds, total,
    CASE WHEN COUNT(*) OVER w7 = 7
         THEN ROUND(AVG(total) OVER w7, 6) END AS trend,
    CAST(isodow(ds) - 1 AS BIGINT) AS dow
  FROM daily
  WINDOW w7 AS (ORDER BY ds ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
t2 AS (SELECT *, ROUND(total - trend, 6) AS detrended FROM t),
sea_raw AS (
  SELECT dow, ROUND(AVG(detrended), 9) AS sea_raw
  FROM t2 WHERE trend IS NOT NULL GROUP BY dow
),
grand AS (SELECT ROUND(AVG(sea_raw), 9) AS g FROM sea_raw),
sea AS (
  SELECT dow, ROUND(sea_raw - grand.g, 6) AS seasonal FROM sea_raw, grand
)
SELECT t2.ds, t2.total, t2.trend,
       CASE WHEN t2.trend IS NOT NULL THEN sea.seasonal END AS seasonal,
       CASE WHEN t2.trend IS NOT NULL
            THEN ROUND(t2.detrended - sea.seasonal, 6) END AS residual
FROM t2 LEFT JOIN sea ON sea.dow = t2.dow
"""

QUERIES["stl_decomposition_daily_events"] = (
    stl_decomposition_daily_events
)
ORACLES["stl_decomposition_daily_events"] = STL_DECOMPOSITION_SQL


# === Kaplan–Meier survival over inter-order gaps =============================


def kaplan_meier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over inter-order gaps: per gap
    value (exact day integers from the per-customer lag window), the
    at-risk count (suffix sum — all gaps >= this one), the event count,
    and S(t) = prod over gap times <= t of (1 - d/n).

    The cumulative product runs as exp(sum(ln(factor))) over the
    bounded distinct-gap table (O(calendar-span) rows), with a
    zero-factor flag: Spark log(0) is NULL while DuckDB ln(0) is
    -inf, so the d = n tail is pinned to survival 0.0 explicitly on
    both sides."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = o.select(
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap")
    ).where(F.col("gap").isNotNull())
    risk = gaps.groupBy(F.col("gap").alias("gap_days")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w_suffix = Window.orderBy("gap_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("gap_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = risk.select(
        "gap_days",
        "n_events",
        F.sum("n_events").over(w_suffix).alias("n_at_risk"),
    )
    factor = F.round(
        F.lit(1.0) - F.try_divide(F.col("n_events"), F.col("n_at_risk")), 9
    )
    r2 = r.select(
        "gap_days",
        "n_events",
        "n_at_risk",
        factor.alias("f"),
    )
    zero_seen = F.max(F.when(F.col("f") == 0.0, 1).otherwise(0)).over(w_cum)
    ln_sum = F.sum(F.when(F.col("f") > 0.0, F.log("f"))).over(w_cum)
    return r2.select(
        "gap_days",
        "n_events",
        "n_at_risk",
        F.when(zero_seen == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(ln_sum), 6))
        .alias("survival"),
    )


KAPLAN_MEIER_SQL = """
WITH g AS (
  SELECT date_diff('day',
           lag(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
risk AS (
  SELECT gap AS gap_days, COUNT(*) AS n_events
  FROM g WHERE gap IS NOT NULL GROUP BY gap
),
r AS (
  SELECT gap_days, n_events,
    SUM(n_events) OVER (ORDER BY gap_days
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_at_risk
  FROM risk
),
r2 AS (
  SELECT gap_days, n_events, n_at_risk,
    ROUND(1.0 - n_events / n_at_risk, 9) AS f
  FROM r
)
SELECT gap_days, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CASE WHEN MAX(CASE WHEN f = 0.0 THEN 1 ELSE 0 END) OVER w_cum = 1
            THEN 0.0
            ELSE ROUND(exp(SUM(CASE WHEN f > 0.0 THEN ln(f) END)
                           OVER w_cum), 6) END AS survival
FROM r2
WINDOW w_cum AS (ORDER BY gap_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

QUERIES["kaplan_meier_orders"] = kaplan_meier_orders
ORACLES["kaplan_meier_orders"] = KAPLAN_MEIER_SQL


# === quality-score calibration (reliability diagram) =========================


def calibration_curve_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: does a cheap quality score predict
    NON-duplication?  Score = 0.4·min(1, n_tokens/100) + 0.3·type-token
    ratio + 0.3·alpha-char ratio (fixed textual order); label = the
    doc's normalized text appears more than once (exact-dup member).
    Bucketed into 10 fixed-width score bins: n, dup count, dup rate.

    Two shuffles: the dup-count aggregate keyed on sha2(normalized
    text) and the final bounded-bin aggregate.  NULL text rows carry
    no score and are excluded on both sides (they cannot be dup-group
    members per the round-4b NULL-text contract)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    nt = text.normalized_text("text")
    toks = text.tokens(nt)
    scored = docs.select(
        F.sha2(nt, 256).alias("key"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (
            F.length(nt)
            - F.length(F.regexp_replace(nt, "[a-z]", ""))
        ).alias("n_alpha"),
        F.length(nt).alias("n_chars"),
    ).select(
        "key",
        F.round(
            F.lit(0.4)
            * F.least(
                F.lit(1.0), F.col("n_tok").cast("double") / F.lit(100.0)
            )
            + F.lit(0.3)
            * F.coalesce(
                F.try_divide(F.col("n_distinct"), F.col("n_tok")), F.lit(0.0)
            )
            + F.lit(0.3)
            * F.coalesce(
                F.try_divide(F.col("n_alpha"), F.col("n_chars")), F.lit(0.0)
            ),
            6,
        ).alias("score"),
    )
    dups = (
        scored.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("key", (F.col("c") > 1).alias("is_dup"))
    )
    joined = scored.join(dups, "key")
    b = F.least(F.floor(F.col("score") * 10).cast("bigint"), F.lit(9))
    return joined.groupBy(b.alias("score_bin")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dups"),
        F.round(
            F.try_divide(F.count(F.when(F.col("is_dup"), 1)), F.count(F.lit(1))),
            6,
        ).alias("dup_rate"),
    )


CALIBRATION_CURVE_SQL = f"""
WITH scored AS (
  SELECT sha256({_NORM}) AS key,
    ROUND(0.4 * LEAST(1.0, len({_TOKS}) / 100.0)
          + 0.3 * COALESCE(len(list_distinct({_TOKS}))
                           / NULLIF(CAST(len({_TOKS}) AS DOUBLE), 0.0), 0.0)
          + 0.3 * COALESCE((length({_NORM})
                            - length(regexp_replace({_NORM}, '[a-z]', '', 'g')))
                           / NULLIF(CAST(length({_NORM}) AS DOUBLE), 0.0), 0.0),
          6) AS score
  FROM documents WHERE text IS NOT NULL
),
dups AS (
  SELECT key, COUNT(*) > 1 AS is_dup FROM scored GROUP BY key
)
SELECT LEAST(CAST(floor(s.score * 10) AS BIGINT), 9) AS score_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (d.is_dup) AS BIGINT) AS n_dups,
       ROUND(COUNT(*) FILTER (d.is_dup) / NULLIF(COUNT(*), 0), 6) AS dup_rate
FROM scored s JOIN dups d ON d.key = s.key
GROUP BY LEAST(CAST(floor(s.score * 10) AS BIGINT), 9)
"""

QUERIES["calibration_curve_documents"] = calibration_curve_documents
ORACLES["calibration_curve_documents"] = CALIBRATION_CURVE_SQL


# === decision-stump information gain =========================================

_STUMP_GRID = 20


def stump_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-split scan for a one-feature decision stump: 19 evenly
    spaced thresholds over [min(value), max(value)], information gain
    of each split against the binary target ``event_type =
    'purchase'``.  The feature-importance primitive (is `value`
    predictive of purchases, and where is the cut).

    The grid comes from ONE single-row min/max aggregate broadcast
    against the scan (19× map-side expansion — no driver round-trip,
    no second scan barrier), then a hash aggregate on the bounded
    threshold domain.  Entropies are fixed-textual-order expressions
    with the 0·log0 branches pinned by CASE on both engines."""
    ev = read_table(spark, sf_dir, "events").where(
        finite(F.col("value"))
    )
    mm = ev.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    grid = mm.select(
        F.explode(F.sequence(F.lit(1), F.lit(_STUMP_GRID - 1))).alias("i"),
        "mn",
        "mx",
    ).select(
        (
            F.col("mn")
            + F.col("i").cast("double")
            * (F.col("mx") - F.col("mn"))
            / F.lit(float(_STUMP_GRID))
        ).alias("t")
    )
    tgt = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    j = ev.select("value", tgt.alias("y")).crossJoin(F.broadcast(grid))
    g = j.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.count(F.when(F.col("value") <= F.col("t"), 1)).alias("n_l"),
        F.sum(F.when(F.col("value") <= F.col("t"), F.col("y")).otherwise(0)).alias(
            "pos_l"
        ),
    )

    def _h(c, n):
        p = F.try_divide(c.cast("double"), n.cast("double"))
        q = F.try_divide((n - c).cast("double"), n.cast("double"))
        return F.when(
            (n == 0) | (c == 0) | (c == n), F.lit(0.0)
        ).otherwise(-(p * F.log2(p)) - (q * F.log2(q)))

    n, pos = F.col("n"), F.col("pos")
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r, pos_r = n - n_l, pos - pos_l
    gain = F.round(
        _h(pos, n)
        - F.try_divide(n_l.cast("double"), n.cast("double")) * _h(pos_l, n_l)
        - F.try_divide(n_r.cast("double"), n.cast("double")) * _h(pos_r, n_r),
        6,
    )
    return g.select(
        F.round("t", 6).alias("threshold"),
        "n_l",
        (n - n_l).alias("n_r"),
        F.round(F.try_divide(pos_l, n_l), 6).alias("purchase_rate_left"),
        F.round(F.try_divide(pos - pos_l, n - n_l), 6).alias(
            "purchase_rate_right"
        ),
        gain.alias("info_gain"),
    )


def _stump_h_sql(c: str, n: str) -> str:
    p = f"({c} / CAST({n} AS DOUBLE))"
    q = f"(({n} - {c}) / CAST({n} AS DOUBLE))"
    return (
        f"CASE WHEN {n} = 0 OR {c} = 0 OR {c} = {n} THEN 0.0 "
        f"ELSE -({p} * log2({p})) - ({q} * log2({q})) END"
    )


STUMP_SPLIT_SQL = f"""
WITH ev AS (
  SELECT value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND isfinite(value)
),
mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
grid AS (
  SELECT mm.mn + CAST(g.i AS DOUBLE) * (mm.mx - mm.mn)
           / {float(_STUMP_GRID)!r} AS t
  FROM mm, UNNEST(range(1, {_STUMP_GRID})) AS g(i)
  WHERE mm.mn IS NOT NULL
),
agg AS (
  SELECT grid.t, COUNT(*) AS n, SUM(ev.y) AS pos,
         COUNT(*) FILTER (ev.value <= grid.t) AS n_l,
         COALESCE(SUM(ev.y) FILTER (ev.value <= grid.t), 0) AS pos_l
  FROM ev, grid
  GROUP BY grid.t
)
SELECT ROUND(t, 6) AS threshold,
  CAST(n_l AS BIGINT) AS n_l,
  CAST(n - n_l AS BIGINT) AS n_r,
  ROUND(pos_l / NULLIF(CAST(n_l AS DOUBLE), 0.0), 6) AS purchase_rate_left,
  ROUND((pos - pos_l) / NULLIF(CAST(n - n_l AS DOUBLE), 0.0), 6)
    AS purchase_rate_right,
  ROUND({_stump_h_sql("pos", "n")}
        - (n_l / CAST(n AS DOUBLE)) * {_stump_h_sql("pos_l", "n_l")}
        - ((n - n_l) / CAST(n AS DOUBLE))
          * {_stump_h_sql("(pos - pos_l)", "(n - n_l)")},
        6) AS info_gain
FROM agg
"""

QUERIES["stump_split_events"] = stump_split_events
ORACLES["stump_split_events"] = STUMP_SPLIT_SQL


# === Burrows' Delta stylometric distance =====================================

_DELTA_TOP = 30


def stylometry_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources: relative frequencies of the
    top-30 corpus tokens per source, z-scored per token across
    sources, delta(a, b) = mean |z_a - z_b| — the classical
    authorship / register distance (do two crawl sources "write
    alike").

    Top-30 by corpus count (count desc, token asc — deterministic),
    broadcast everywhere after; the dense source×token matrix is
    bounded (|sources| × 30).  Z-scores use the explicit sum
    identities (never engine-native stddev — reduction formulas
    differ), 9-lattice rounded; zero-variance tokens contribute 0.
    NULL source is excluded on both sides (pair joins drop NULL keys
    silently — the divergence-prone shape)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    toks = docs.select(
        "source", F.explode(text.tokens(text.normalized_text("text"))).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_DELTA_TOP)
        .select("tok")
    )
    per_source_total = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("tot")
    )
    counts = (
        toks.join(F.broadcast(top), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # EVERY aggregate in this query is integer-exact: relative
    # frequencies land on an integer 1e-7 lattice (f_int), so the
    # mean/variance sums, and later the per-pair |z| sums, are BIGINT
    # arithmetic — reduction order cannot move ANY value, and the
    # scalar math downstream (divisions, sqrt, clamp, round) is
    # deterministic IEEE over identical operands on both engines.  A
    # float-sum version of mu/sd produced 1-ulp boundary mismatches
    # at BOTH sf0.01 and sf0.1 (different rows) before this.
    dense = (
        per_source_total.crossJoin(F.broadcast(top))
        .join(counts, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.round(
                F.try_divide(F.coalesce(F.col("c"), F.lit(0)), F.col("tot"))
                * F.lit(1e7)
            )
            .cast("bigint")
            .alias("fi"),
        )
    )
    stats = dense.groupBy("tok").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("fi").alias("sf"),
        F.sum(F.col("fi") * F.col("fi")).alias("sff"),
    )
    mean = F.try_divide(F.col("sf").cast("double"), F.col("ns"))
    var = F.try_divide(
        F.col("sff").cast("double")
        - F.col("sf").cast("double") * F.col("sf").cast("double")
        / F.col("ns"),
        F.col("ns") - 1,
    )
    z_stats = stats.select(
        "tok",
        mean.alias("mu"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
    )
    # z on a clamped INTEGER 1e-9 lattice; sd == 0 -> try_divide NULL
    # -> 0 contribution.  Clamp at ±1e6 keeps z_int within BIGINT sums
    # even for degenerate sd.  (fi - mu)/sd is scale-invariant, so the
    # 1e7 frequency scaling cancels.
    zf = F.coalesce(
        F.try_divide(F.col("fi") - F.col("mu"), F.col("sd")), F.lit(0.0)
    )
    z = dense.join(F.broadcast(z_stats), "tok").select(
        "source",
        "tok",
        F.round(
            F.least(F.greatest(zf, F.lit(-1e6)), F.lit(1e6)) * F.lit(1e9)
        )
        .cast("bigint")
        .alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.source") < F.col("b.source")),
    )
    return pairs.groupBy(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
    ).agg(
        F.round(
            F.try_divide(
                F.sum(F.abs(F.col("a.z") - F.col("b.z"))),
                F.count(F.lit(1)) * F.lit(1e9),
            ),
            6,
        ).alias("delta")
    )


STYLOMETRY_DELTA_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
top AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT {_DELTA_TOP})
),
tot AS (SELECT source, COUNT(*) AS tot FROM toks GROUP BY source),
counts AS (
  SELECT t.source, t.tok, COUNT(*) AS c
  FROM toks t JOIN top ON top.tok = t.tok
  GROUP BY t.source, t.tok
),
dense AS (
  SELECT tot.source, top.tok,
    CAST(ROUND(COALESCE(c.c, 0) / NULLIF(CAST(tot.tot AS DOUBLE), 0.0)
               * 10000000.0) AS BIGINT) AS fi
  FROM tot CROSS JOIN top
  LEFT JOIN counts c ON c.source = tot.source AND c.tok = top.tok
),
stats AS (
  SELECT tok, COUNT(*) AS ns,
         CAST(SUM(fi) AS BIGINT) AS sf,
         CAST(SUM(fi * fi) AS BIGINT) AS sff
  FROM dense GROUP BY tok
),
z_stats AS (
  SELECT tok,
    CAST(sf AS DOUBLE) / NULLIF(CAST(ns AS DOUBLE), 0.0) AS mu,
    sqrt(GREATEST(
      (CAST(sff AS DOUBLE)
       - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE) / ns)
      / NULLIF(ns - 1, 0), 0.0)) AS sd
  FROM stats
),
z AS (
  SELECT d.source, d.tok,
    CAST(ROUND(LEAST(GREATEST(
      COALESCE((d.fi - zs.mu) / NULLIF(zs.sd, 0.0), 0.0),
      -1000000.0), 1000000.0) * 1000000000.0) AS BIGINT) AS z
  FROM dense d JOIN z_stats zs ON zs.tok = d.tok
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND(SUM(abs(a.z - b.z))
             / (COUNT(*) * 1000000000.0), 6) AS delta
FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
GROUP BY a.source, b.source
"""

QUERIES["stylometry_delta_sources"] = stylometry_delta_sources
ORACLES["stylometry_delta_sources"] = STYLOMETRY_DELTA_SQL


# === PCA leading component via power iteration ===============================

_PCA_DIMS = 8
_PCA_ITERS = 12
_PCA_V0 = 1.0 / (8.0 ** 0.5)  # uniform unit start over 8 dims


def _pca_moments(emb) -> DataFrame:
    """Sample-covariance table (i, j, c) over the leading ``_PCA_DIMS``
    dimensions, i <= j, 9-lattice rounded — computed MAP-SIDE: all 36
    (i, j) pair products are fixed projection expressions per vector,
    feeding straight into partial aggregation.  Zero data shuffle —
    only 36 partial rows leave each partition.  (The first version
    self-joined the posexploded corpus on vec_id: a full 2x shuffle of
    8 rows/vector that the 1M-vector probe clocked at ~50 s; this shape
    is ~3 s and is the plan that survives 100 TB.)

    Ragged vectors participate exactly like the oracle's
    ``LEAST(len(emb), 8)`` unnest: pairs with j >= len(v) are filtered
    out, not NULL-polluted."""
    vecs = emb.select(
        F.slice(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            1,
            _PCA_DIMS,
        ).alias("v")
    ).select("v", F.size("v").alias("sz"))
    pair_structs = [
        F.struct(
            F.lit(i).cast("bigint").alias("i"),
            F.lit(j).cast("bigint").alias("j"),
            F.col("v")[i].alias("xi"),
            F.col("v")[j].alias("xj"),
        )
        for i in range(_PCA_DIMS)
        for j in range(i, _PCA_DIMS)
    ]
    ex = (
        vecs.select(F.explode(F.array(*pair_structs)).alias("p"), "sz")
        .where(F.col("p.j") < F.col("sz"))
        .select("p.*")
    )
    return (
        ex.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xi").alias("sx"),
            F.sum("xj").alias("sy"),
            F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
        )
        .select(
            "i",
            "j",
            F.round(
                F.try_divide(
                    F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
                    F.col("n") - 1,
                ),
                9,
            ).alias("c"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )


def _power_chain_sql(view: str, iters: int) -> str:
    """The full power iteration, UNROLLED into one Spark-SQL query over
    the single-partition matrix temp view ``view`` — same arithmetic as
    the previous per-iteration DataFrame loop (ROUND/TRY_DIVIDE on the
    1e-9 lattice), same v₀.

    Why SQL (VERDICT r11 #1, guide §1.2): the loop form paid a
    driver-side analyze + job-dispatch round PER iteration (~0.2 s × 12
    measured at c32 — construction, not computation, was ~80% of the
    query), and each iteration's groupBy shuffled an ≤8-row frame into
    ``spark.sql.shuffle.partitions`` hash partitions — a task storm that
    grows with core count (driver: 31 s / 0.41 scaling at c32).  Here
    the chain is ONE parse/analyze pass and one plan: every join hints
    BROADCAST(m) over the SAME single-partition scan, so ReuseExchange
    collapses the 12 broadcasts into one; the stream side stays
    SinglePartition end to end (the matrix is ≤ dims² rows at ANY data
    scale — one partition is the scale-correct layout, not a local
    tune), so the per-iteration aggregate and the norm window plan with
    ZERO exchanges.  The norm is a whole-frame window so ``u`` is
    referenced once — plan growth stays linear (r05 iterated-plan rule
    satisfied without intermediate checkpoints)."""
    parts = [
        f"v0 AS (SELECT DISTINCT i AS dim, CAST({_PCA_V0!r} AS DOUBLE) AS x"
        f" FROM {view})"
    ]
    prev = "v0"
    for t in range(1, iters + 1):
        parts.append(
            f"u{t} AS (SELECT /*+ BROADCAST(m) */ m.i AS d,"
            f" ROUND(SUM(m.c * v.x), 9) AS ux"
            f" FROM {view} m JOIN {prev} v ON m.j = v.dim GROUP BY m.i)"
        )
        parts.append(
            f"v{t} AS (SELECT d AS dim, ROUND(TRY_DIVIDE(ux,"
            f" ROUND(SQRT(SUM(ux * ux) OVER ()), 9)), 9) AS x FROM u{t})"
        )
        prev = f"v{t}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT dim, x FROM {prev}"


def _run_power_chain(spark: SparkSession, m1: DataFrame, tag: str) -> DataFrame:
    """Run the unrolled power chain over single-partition matrix ``m1``;
    returns the final iterate, eagerly checkpointed (it feeds 4+
    consumers: sign probe, both verify sides, the output)."""
    import uuid as _uuid

    view = f"__ndl_power_{tag}_{_uuid.uuid4().hex[:8]}"
    m1.createOrReplaceTempView(view)
    try:
        return spark.sql(_power_chain_sql(view, _PCA_ITERS)).localCheckpoint(
            eager=True
        )
    finally:
        spark.catalog.dropTempView(view)


def pca_power_iteration_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leading principal component of the first 8 embedding dimensions
    by power iteration on the sample covariance matrix — 8
    fixed-count iterations (u = C·v, v = u/|u|), every intermediate
    rounded to the 1e-9 lattice (the pagerank discipline: reduction-
    order float noise cannot compound across iterations).

    The corpus is touched ONCE (the moment aggregate); all 8
    iterations run on the bounded 8×8 matrix DataFrame —
    O(d²)-per-iteration work that is identical on 1 or 1000 executors.
    Sign is fixed deterministically (first nonzero loading positive).

    The iteration runs on the TRACE-NORMALIZED matrix C/tr: raw
    covariances can be ~1e12 on value-domain-edge inputs, where a
    1e-9 lattice is a no-op and sum-order noise (relative 1e-16 =
    absolute 1e-4) leaks straight through a 6-decimal output — caught
    live by the --extreme gate on the two-component variant.
    Normalizing first puts every matrix entry, iterate, and the
    Rayleigh quotient in O(1) where the lattice actually absorbs
    reduction-order noise.  Output: per dim, the loading plus the
    component's share of total variance (λ/tr — dimensionless; a raw
    eigenvalue at 1e12 cannot hold 6 decimals in a double at all)."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))
    )
    g = _pca_moments(emb)
    trace = g.where(F.col("i") == F.col("j")).agg(
        F.sum("c").alias("tr")
    )
    m = (
        g.unionByName(
            g.where(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "c"
            )
        )
        .crossJoin(F.broadcast(trace))
        .select(
            "i",
            "j",
            # CASE-guard, not NULLIF: a -0.0 trace must become NULL,
            # never a divisor (x / -0.0 = -inf)
            F.round(
                F.try_divide(
                    F.col("c"), F.when(F.col("tr") > 0, F.col("tr"))
                ),
                9,
            ).alias("c"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    m1 = m.coalesce(1)
    v = _run_power_chain(spark, m1, "pca1")
    first_nz = (
        v.where(F.col("x").isNotNull() & (F.col("x") != 0.0))
        .orderBy("dim")
        .limit(1)
        .select(
            F.when(F.col("x") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s")
        )
    )
    sgn = first_nz.agg(F.coalesce(F.max("s"), F.lit(1.0)).alias("s"))
    v1p = v.coalesce(1)
    vj = v1p.select(F.col("dim").alias("jd"), F.col("x").alias("xj"))
    vi = v1p.select(F.col("dim").alias("id"), F.col("x").alias("xi"))
    lam = (
        m1.join(F.broadcast(vj), m1["j"] == vj["jd"])
        .join(F.broadcast(vi), m1["i"] == vi["id"])
        .agg(
            F.round(
                F.sum(F.col("xi") * F.col("c") * F.col("xj")), 6
            ).alias("explained_share")
        )
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .select(
            "dim",
            F.round(F.col("s") * F.col("x"), 6).alias("loading"),
        )
        .crossJoin(F.broadcast(lam))
    )


def _pca_sql() -> str:
    iters = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        iters.append(f"""
u{t} AS MATERIALIZED (
  SELECT m.i AS d, ROUND(SUM(m.c * v.x), 9) AS ux
  FROM m JOIN {prev} v ON v.dim = m.j GROUP BY m.i
),
n{t} AS MATERIALIZED (SELECT ROUND(sqrt(SUM(ux * ux)), 9) AS nrm FROM u{t}),
v{t} AS MATERIALIZED (SELECT d AS dim, ROUND(ux / NULLIF(n{t}.nrm, 0.0), 9) AS x
         FROM u{t}, n{t})""")
        prev = f"v{t}"
    return f"""
WITH ex AS (
  -- ROW-WISE pair expansion mirroring the engine's map-side moments:
  -- a vec_id self-join cross-multiplies rows under duplicate ids
  SELECT CAST(g.i - 1 AS BIGINT) AS i, CAST(h.j - 1 AS BIGINT) AS j,
         e.emb[g.i] AS xi, e.emb[h.j] AS xj
  FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings
        WHERE {_VEC_VALID_SQL}) e,
       UNNEST(range(1, LEAST(len(e.emb), {_PCA_DIMS}) + 1)) AS g(i),
       UNNEST(range(1, LEAST(len(e.emb), {_PCA_DIMS}) + 1)) AS h(j)
  WHERE h.j >= g.i
),
g AS MATERIALIZED (
  SELECT i, j,
    ROUND((SUM(xi * xj) - SUM(xi) * SUM(xj) / COUNT(*))
          / NULLIF(COUNT(*) - 1, 0), 9) AS c
  FROM ex GROUP BY i, j
),
tr AS (SELECT SUM(c) AS tr FROM g WHERE i = j),
m AS MATERIALIZED (
  SELECT i, j, ROUND(c / (CASE WHEN tr.tr > 0 THEN tr.tr END), 9) AS c
  FROM (SELECT i, j, c FROM g
        UNION ALL SELECT j, i, c FROM g WHERE i < j) raw, tr
),
v0 AS MATERIALIZED (SELECT DISTINCT i AS dim, {_PCA_V0!r} AS x FROM m),{",".join(iters)},
sgn AS (
  SELECT COALESCE(MAX(s), 1.0) AS s FROM (
    SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
    FROM {prev} WHERE x IS NOT NULL AND x <> 0.0
    ORDER BY dim LIMIT 1)
),
lam AS (
  SELECT ROUND(SUM(vi.x * m.c * vj.x), 6) AS explained_share
  FROM m JOIN {prev} vj ON vj.dim = m.j
         JOIN {prev} vi ON vi.dim = m.i
)
SELECT v.dim, ROUND(sgn.s * v.x, 6) AS loading,
       lam.explained_share
FROM {prev} v, sgn, lam
"""


QUERIES["pca_power_iteration_embeddings"] = (
    pca_power_iteration_embeddings
)
ORACLES["pca_power_iteration_embeddings"] = _pca_sql()


# === Markov stationary distribution over event-type transitions ==============

_MK_ITERS = 10


def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    by power iteration: row-normalized transition matrix over
    consecutive (prev_type → type) pairs, π iterated 10 times from
    uniform with per-iteration renormalization, every value on the
    1e-9 lattice.

    States are the types that appear as a transition SOURCE;
    transitions into sink-only types are dropped and the per-iteration
    renormalization redistributes the mass (documented chain
    restriction — identical on both engines).  One corpus shuffle (the
    lag window); the 10 iterations run on the bounded |types|² matrix."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull())
    states = tr.select(F.col("src").alias("state")).distinct()
    tr_r = tr.join(
        F.broadcast(states), tr["dst"] == states["state"], "left_semi"
    )
    counts = tr_r.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("src").agg(F.sum("c").alias("tot"))
    p = (
        counts.join(F.broadcast(totals), "src")
        .select(
            "src",
            "dst",
            F.round(F.try_divide(F.col("c"), F.col("tot")), 9).alias("p"),
        )
        .coalesce(1)  # |types|^2-row matrix
        .localCheckpoint(eager=True)
    )
    n_states = states.agg(F.count(F.lit(1)).alias("ns"))
    # Checkpoint π₀: states/n_states derive from the corpus lag window
    # (they cannot be derived from the checkpointed p — a source whose
    # transitions all lead to sink-only types is in π₀ but not in p),
    # so an uncheckpointed π₀ re-runs that corpus pass inside the
    # iteration chain's first join.
    pi = (
        states.crossJoin(F.broadcast(n_states))
        .select(
            "state",
            F.round(F.try_divide(F.lit(1.0), F.col("ns")), 9).alias("pi"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # Single-partition iteration chain (VERDICT r11 #1, same fix as the
    # PCA family): the |types|²-row matrix is bounded at any data
    # scale, so coalesce(1) on both join sides lets every iteration
    # plan without exchanges — no 32-partition shuffle of a ≤|types|-row
    # frame per iteration — and the renormalization sum moves into a
    # whole-frame window so ``u`` is built once per iteration.
    # Unrolled single-SQL iteration chain over the single-partition
    # matrix (same rationale and shape as _power_chain_sql, VERDICT r11
    # #1): one parse/analyze pass instead of a driver round per
    # iteration; every join broadcasts the SAME matrix scan (collapsed
    # to one broadcast by ReuseExchange); stream side stays
    # SinglePartition so the per-iteration aggregate and the
    # renormalization window plan with zero exchanges.  |types|² is
    # bounded by the event-type vocabulary at any data scale.
    import uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    p_view, pi_view = f"__ndl_mk_p_{sfx}", f"__ndl_mk_pi0_{sfx}"
    p.coalesce(1).createOrReplaceTempView(p_view)
    pi.coalesce(1).createOrReplaceTempView(pi_view)
    parts = [f"pi0 AS (SELECT state, pi FROM {pi_view})"]
    prev = "pi0"
    for t in range(1, _MK_ITERS + 1):
        parts.append(
            f"u{t} AS (SELECT /*+ BROADCAST(m) */ m.dst AS d,"
            f" ROUND(SUM(v.pi * m.p), 9) AS u"
            f" FROM {p_view} m JOIN {prev} v ON m.src = v.state"
            f" GROUP BY m.dst)"
        )
        parts.append(
            f"pi{t} AS (SELECT d AS state, ROUND(TRY_DIVIDE(u,"
            f" ROUND(SUM(u) OVER (), 9)), 9) AS pi FROM u{t})"
        )
        prev = f"pi{t}"
    sql = "WITH " + ",\n".join(parts) + f"\nSELECT state, pi FROM {prev}"
    try:
        out = spark.sql(sql)
    finally:
        spark.catalog.dropTempView(p_view)
        spark.catalog.dropTempView(pi_view)
    return out.select(
        F.col("state").alias("event_type"),
        F.round("pi", 6).alias("stationary_prob"),
    )


def _markov_sql() -> str:
    iters = []
    prev = "pi0"
    for t in range(1, _MK_ITERS + 1):
        iters.append(f"""
u{t} AS MATERIALIZED (
  SELECT p.dst AS d, ROUND(SUM(pi.pi * p.p), 9) AS u
  FROM p JOIN {prev} pi ON pi.state = p.src GROUP BY p.dst
),
s{t} AS MATERIALIZED (SELECT ROUND(SUM(u), 9) AS s FROM u{t}),
pi{t} AS MATERIALIZED (SELECT d AS state, ROUND(u / NULLIF(s{t}.s, 0.0), 9) AS pi
          FROM u{t}, s{t})""")
        prev = f"pi{t}"
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM ev
),
tr2 AS (SELECT src, dst FROM tr WHERE src IS NOT NULL),
states AS (SELECT DISTINCT src AS state FROM tr2),
tr_r AS (
  SELECT t.src, t.dst FROM tr2 t JOIN states s ON s.state = t.dst
),
counts AS (SELECT src, dst, COUNT(*) AS c FROM tr_r GROUP BY src, dst),
totals AS (SELECT src, SUM(c) AS tot FROM counts GROUP BY src),
p AS MATERIALIZED (
  SELECT c.src, c.dst,
    ROUND(c.c / NULLIF(CAST(t.tot AS DOUBLE), 0.0), 9) AS p
  FROM counts c JOIN totals t ON t.src = c.src
),
ns AS (SELECT COUNT(*) AS ns FROM states),
pi0 AS MATERIALIZED (
  SELECT state, ROUND(1.0 / NULLIF(CAST(ns.ns AS DOUBLE), 0.0), 9) AS pi
  FROM states, ns
),{",".join(iters)}
SELECT state AS event_type, ROUND(pi, 6) AS stationary_prob FROM {prev}
"""


QUERIES["markov_stationary_events"] = markov_stationary_events
ORACLES["markov_stationary_events"] = _markov_sql()


# === NDCG@k / MRR of the LSH probe ranking ===================================

_NDCG_ANCHOR_MAX = 25
_NDCG_K = 10
_NDCG_PLANES = 6
_NDCG_HAMMING = 1


def ndcg_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 and MRR of the sign-LSH probe vs the exact cosine
    ranking per anchor (llm/similarity.ndcg_lsh) — recall says whether
    the true neighbors are found, this says whether they are found
    EARLY."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ndcg_lsh(
        emb,
        anchor_max_id=_NDCG_ANCHOR_MAX,
        k=_NDCG_K,
        num_planes=_NDCG_PLANES,
        probe_hamming=_NDCG_HAMMING,
    )


def _ndcg_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import _bucket_sql

    ws, cum = similarity.dcg_weights(_NDCG_K)
    dcg_terms = " + ".join(
        f"h{r} * {ws[r - 1]!r}" for r in range(1, _NDCG_K + 1)
    )
    idcg_chain = " ".join(
        f"WHEN LEAST({_NDCG_K}, n_exact) >= {j} THEN {cum[j - 1]!r}"
        for j in range(_NDCG_K, 0, -1)
    )
    flag_cols = ",\n         ".join(
        f"MAX(CASE WHEN a.rk = {r} THEN 1 ELSE 0 END) AS h{r}"
        for r in range(1, _NDCG_K + 1)
    )
    cos_ab = (
        "list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         {_bucket_sql(_NDCG_PLANES, "embedding")} AS bucket
  FROM embeddings WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
pairs AS MATERIALIZED (
  SELECT a.id AS anchor_id, a.bucket AS abucket, b.id AS nbr,
         b.bucket AS nbucket,
         ROUND({cos_ab}, 6) AS cos
  FROM base a JOIN base b ON a.id <> b.id
  WHERE a.id < {_NDCG_ANCHOR_MAX}
),
exact AS MATERIALIZED (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_NDCG_K}
),
approx AS (
  SELECT anchor_id, nbr, rk FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs WHERE bit_count(xor(nbucket, abucket)) <= {_NDCG_HAMMING}) t
  WHERE rk <= {_NDCG_K}
),
flags AS (
  SELECT a.anchor_id, MIN(a.rk) AS first_hit,
         {flag_cols}
  FROM approx a JOIN exact e
    ON e.anchor_id = a.anchor_id AND e.nbr = a.nbr
  GROUP BY a.anchor_id
),
ex AS (SELECT anchor_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT ex.anchor_id, CAST(n_exact AS BIGINT) AS n_exact,
  ROUND(COALESCE(0.0 + {dcg_terms}, 0.0)
        / (CASE {idcg_chain} END), 6) AS ndcg_at_k,
  ROUND(COALESCE(1.0 / first_hit, 0.0), 6) AS mrr
FROM ex LEFT JOIN flags ON flags.anchor_id = ex.anchor_id
"""


QUERIES["ndcg_lsh_embeddings"] = ndcg_lsh_embeddings
ORACLES["ndcg_lsh_embeddings"] = _ndcg_sql()


# === pairwise Kolmogorov–Smirnov matrix over sources =========================


def ks_matrix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise two-sample KS distance between sources over the
    document-length distribution: D(a, b) = max |ECDF_a - ECDF_b|
    evaluated exactly on the union support — the distribution-drift
    matrix a crawl pipeline watches when a source changes its
    boilerplate.

    One shuffle to the (source, len) counts; the dense
    sources × distinct-lengths grid (bounded: |L| ≤ distinct doc
    lengths) gets per-source cumulative ECDFs via one window, then the
    bounded source-pair join takes the max.  ECDFs are exact integer
    ratios on the 1e-9 lattice."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    lens = docs.select("source", F.length("text").alias("len"))
    counts = lens.groupBy("source", "len").agg(
        F.count(F.lit(1)).alias("c")
    )
    support = counts.select("len").distinct()
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    grid = (
        totals.crossJoin(support)
        .join(counts, ["source", "len"], "left")
        .select(
            "source",
            "len",
            "tot",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    w = Window.partitionBy("source").orderBy("len").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ecdf = grid.select(
        "source",
        "len",
        F.round(
            F.try_divide(F.sum("c").over(w), F.col("tot")), 9
        ).alias("f"),
    )
    a, b = ecdf.alias("a"), ecdf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.len") == F.col("b.len"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.round(F.max(F.abs(F.col("a.f") - F.col("b.f"))), 6).alias(
                "ks_d"
            )
        )
    )


KS_MATRIX_SQL = """
WITH lens AS (
  SELECT source, length(text) AS len FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
),
counts AS (SELECT source, len, COUNT(*) AS c FROM lens GROUP BY source, len),
support AS (SELECT DISTINCT len FROM counts),
totals AS (SELECT source, SUM(c) AS tot FROM counts GROUP BY source),
grid AS (
  SELECT t.source, s.len, t.tot, COALESCE(c.c, 0) AS c
  FROM totals t CROSS JOIN support s
  LEFT JOIN counts c ON c.source = t.source AND c.len = s.len
),
ecdf AS (
  SELECT source, len,
    ROUND(SUM(c) OVER (PARTITION BY source ORDER BY len
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          / NULLIF(CAST(tot AS DOUBLE), 0.0), 9) AS f
  FROM grid
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND(MAX(abs(a.f - b.f)), 6) AS ks_d
FROM ecdf a JOIN ecdf b ON a.len = b.len AND a.source < b.source
GROUP BY a.source, b.source
"""

QUERIES["ks_matrix_sources"] = ks_matrix_sources
ORACLES["ks_matrix_sources"] = KS_MATRIX_SQL


# === empirical-Bayes shrunk duplicate rates ==================================

_EB_PRIOR_STRENGTH = 20


def shrunk_dup_rates_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-count (empirical-Bayes flavored) shrinkage of per-source
    exact-dup rates toward the pooled corpus rate: shrunk =
    (x + m·μ) / (n + m) with m = 20 and μ = pooled rate — the
    small-source stabilizer (a 3-doc source with 1 dup should not read
    as a 33% dup-rate source).

    Dup membership is corpus-wide (normalized-text group size > 1,
    keyed on sha2 — the calibration query's label).  Two shuffles
    (dup groups, per-source rollup); μ is one bounded scalar
    broadcast.  NULL source is a real group (grouping, not a join)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    keyed = docs.select(
        "source", F.sha2(text.normalized_text("text"), 256).alias("key")
    )
    dups = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("key", (F.col("c") > 1).alias("is_dup"))
    )
    flagged = keyed.join(dups, "key")
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dups"),
    )
    pooled = per_source.agg(
        F.round(
            F.try_divide(F.sum("n_dups"), F.sum("n_docs")), 9
        ).alias("mu")
    )
    m = F.lit(float(_EB_PRIOR_STRENGTH))
    return per_source.crossJoin(F.broadcast(pooled)).select(
        "source",
        "n_docs",
        "n_dups",
        F.round(F.try_divide(F.col("n_dups"), F.col("n_docs")), 6).alias(
            "raw_rate"
        ),
        F.round(
            F.try_divide(
                F.col("n_dups") + m * F.col("mu"), F.col("n_docs") + m
            ),
            6,
        ).alias("shrunk_rate"),
    )


SHRUNK_DUP_RATES_SQL = f"""
WITH keyed AS (
  SELECT source, sha256({_NORM}) AS key
  FROM documents WHERE text IS NOT NULL
),
dups AS (SELECT key, COUNT(*) > 1 AS is_dup FROM keyed GROUP BY key),
per_source AS (
  SELECT k.source, COUNT(*) AS n_docs,
         COUNT(*) FILTER (d.is_dup) AS n_dups
  FROM keyed k JOIN dups d ON d.key = k.key
  GROUP BY k.source
),
pooled AS (
  SELECT ROUND(SUM(n_dups) / NULLIF(CAST(SUM(n_docs) AS DOUBLE), 0.0), 9)
    AS mu
  FROM per_source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_dups AS BIGINT) AS n_dups,
       ROUND(n_dups / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6) AS raw_rate,
       ROUND((n_dups + {float(_EB_PRIOR_STRENGTH)!r} * pooled.mu)
             / (n_docs + {float(_EB_PRIOR_STRENGTH)!r}), 6) AS shrunk_rate
FROM per_source, pooled
"""

QUERIES["shrunk_dup_rates_sources"] = shrunk_dup_rates_sources
ORACLES["shrunk_dup_rates_sources"] = SHRUNK_DUP_RATES_SQL


# === simhash vs minhash pair-set agreement ===================================


def simhash_vs_minhash_agreement_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Agreement audit between the two near-dup detectors: the
    verified MinHash-LSH pair set vs the SimHash Hamming pair set —
    pair counts on each side, the intersection, and the pair-set
    Jaccard.  The detector-selection evidence (which families does
    each miss).

    Reuses both session-cached pipelines (the LSH pair table and the
    simhash signature table); the comparison itself is one equi-join
    on the canonical (lo, hi) pair key."""
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as lq

    mh = (
        lq.minhash_lsh_pairs_documents(spark, sf_dir)
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .distinct()
    )
    sh = (
        lq.simhash_pairs_documents(spark, sf_dir)
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .distinct()
    )
    n_mh = mh.agg(F.count(F.lit(1)).alias("n_minhash"))
    n_sh = sh.agg(F.count(F.lit(1)).alias("n_simhash"))
    n_both = mh.join(sh, ["lo", "hi"]).agg(
        F.count(F.lit(1)).alias("n_both")
    )
    return (
        n_mh.crossJoin(F.broadcast(n_sh))
        .crossJoin(F.broadcast(n_both))
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            F.round(
                F.try_divide(
                    F.col("n_both"),
                    F.col("n_minhash") + F.col("n_simhash") - F.col("n_both"),
                ),
                6,
            ).alias("pair_jaccard"),
        )
    )


def _agreement_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _LSHMH_THRESHOLD,
        _minhash_lsh_sql,
        _SIMHASH_BITS,
        _SIMHASH_MAX_HAMMING,
        _SIMHASH_PREFIX,
        _simhash_sql_core,
    )

    return f"""
WITH {_simhash_sql_core()},
blocked AS (
  SELECT doc_id, simhash,
         simhash >> {_SIMHASH_BITS - _SIMHASH_PREFIX} AS block
  FROM sim
),
shp_q AS MATERIALIZED (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS lo,
                  GREATEST(a.doc_id, b.doc_id) AS hi
  FROM blocked a JOIN blocked b
    ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
),
mhp_q AS MATERIALIZED (
  SELECT DISTINCT LEAST(id_a, id_b) AS lo, GREATEST(id_a, id_b) AS hi
  FROM ({_minhash_lsh_sql(_LSHMH_THRESHOLD)})
),
nm AS (SELECT COUNT(*) AS n_minhash FROM mhp_q),
nsh AS (SELECT COUNT(*) AS n_simhash FROM shp_q),
nb AS (
  SELECT COUNT(*) AS n_both
  FROM mhp_q JOIN shp_q
    ON shp_q.lo = mhp_q.lo AND shp_q.hi = mhp_q.hi
)
SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
       CAST(n_simhash AS BIGINT) AS n_simhash,
       CAST(n_both AS BIGINT) AS n_both,
       ROUND(n_both / NULLIF(
         CAST(n_minhash + n_simhash - n_both AS DOUBLE), 0.0), 6)
         AS pair_jaccard
FROM nm, nsh, nb
"""


QUERIES["simhash_vs_minhash_agreement_documents"] = (
    simhash_vs_minhash_agreement_documents
)
ORACLES["simhash_vs_minhash_agreement_documents"] = _agreement_sql()


# === conformal-style coverage bands ==========================================

_CB_LO = 0.05
_CB_HI = 0.95


def conformal_band_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal style coverage audit: per event type, the
    [q05, q95] band fit on the even-event_id half, and the observed
    coverage of that band on the odd half — the honest answer to "do
    my per-type value bands actually hold out of sample".

    The split is a deterministic id-parity hash (no randomness), the
    band is one percentile aggregate per type, and coverage is a
    broadcast join of the bounded band table back to the odd half.
    Finite-value filter per the NaN rule; NULL event_id rows are
    excluded (no deterministic side)."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
        & finite(F.col("value"))
    )
    train = ev.where(F.col("event_id") % 2 == 0)
    test = ev.where(F.col("event_id") % 2 == 1)
    bands = train.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {_CB_LO!r})"), 6).alias("lo"),
        F.round(F.expr(f"percentile(value, {_CB_HI!r})"), 6).alias("hi"),
    )
    cov = (
        test.join(F.broadcast(bands), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.try_divide(
                    F.count(
                        F.when(
                            (F.col("value") >= F.col("lo"))
                            & (F.col("value") <= F.col("hi")),
                            1,
                        )
                    ),
                    F.count(F.lit(1)),
                ),
                6,
            ).alias("coverage"),
        )
    )
    return cov


CONFORMAL_BAND_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_id IS NOT NULL AND event_type IS NOT NULL
    AND value IS NOT NULL AND isfinite(value)
),
bands AS (
  SELECT event_type,
         ROUND(quantile_cont(value, {_CB_LO!r}), 6) AS lo,
         ROUND(quantile_cont(value, {_CB_HI!r}), 6) AS hi
  FROM ev WHERE event_id % 2 = 0 GROUP BY event_type
)
SELECT t.event_type, b.lo, b.hi,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(COUNT(*) FILTER (t.value >= b.lo AND t.value <= b.hi)
             / NULLIF(COUNT(*), 0), 6) AS coverage
FROM ev t JOIN bands b ON b.event_type = t.event_type
WHERE t.event_id % 2 = 1
GROUP BY t.event_type, b.lo, b.hi
"""

QUERIES["conformal_band_events"] = conformal_band_events
ORACLES["conformal_band_events"] = CONFORMAL_BAND_SQL


# === two-component PCA via deflation =========================================


def pca_two_components_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First TWO principal components of the leading 8 embedding
    dimensions: power iteration for PC1, Hotelling deflation
    (M₂ = M − λ₁·v₁v₁ᵀ, 9-lattice), power iteration again for PC2 —
    the dimensionality-reduction preview (how much of the block do two
    axes carry).

    Same execution contract as the single-component query: ONE corpus
    shuffle for the moments, every iteration on the bounded
    TRACE-NORMALIZED 8×8 matrix (see the single-component docstring —
    raw 1e12-scale covariances leak sum-order noise through 6-decimal
    outputs; the --extreme gate caught it on this very query) with
    eager per-iteration checkpoints.  Output per dim: both sign-fixed
    loadings, plus both components' variance shares (λ/tr)."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))
    )
    g = _pca_moments(emb)
    trace = g.where(F.col("i") == F.col("j")).agg(F.sum("c").alias("tr"))
    m = (
        g.unionByName(
            g.where(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "c"
            )
        )
        .crossJoin(F.broadcast(trace))
        .select(
            "i",
            "j",
            F.round(
                F.try_divide(
                    F.col("c"), F.when(F.col("tr") > 0, F.col("tr"))
                ),
                9,
            ).alias("c"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    def _power(mat, tag):
        # Unrolled single-SQL power chain over the single-partition
        # matrix — see _power_chain_sql (VERDICT r11 #1).
        mat1 = mat.coalesce(1)
        v = _run_power_chain(spark, mat1, tag)
        first_nz = (
            v.where(F.col("x").isNotNull() & (F.col("x") != 0.0))
            .orderBy("dim")
            .limit(1)
            .select(
                F.when(F.col("x") < 0, F.lit(-1.0))
                .otherwise(F.lit(1.0))
                .alias("s")
            )
        )
        sgn = first_nz.agg(F.coalesce(F.max("s"), F.lit(1.0)).alias("s"))
        v = (
            v.coalesce(1)
            .crossJoin(F.broadcast(sgn))
            .select("dim", F.round(F.col("s") * F.col("x"), 9).alias("x"))
            .localCheckpoint(eager=True)
        )
        v1p = v.coalesce(1)
        vj = v1p.select(F.col("dim").alias("jd"), F.col("x").alias("xj"))
        vi = v1p.select(F.col("dim").alias("id"), F.col("x").alias("xi"))
        lam = (
            mat1.join(F.broadcast(vj), mat1["j"] == vj["jd"])
            .join(F.broadcast(vi), mat1["i"] == vi["id"])
            .agg(
                F.round(F.sum(F.col("xi") * F.col("c") * F.col("xj")), 9).alias(
                    "lam"
                )
            )
        )
        return v, lam

    v1, lam1 = _power(m, "pca2a")
    v1c = v1.coalesce(1)
    m2 = (
        m.coalesce(1)
        .join(
            F.broadcast(
                v1c.select(F.col("dim").alias("i"), F.col("x").alias("xi"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                v1c.select(F.col("dim").alias("j"), F.col("x").alias("xj"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(lam1))
        .select(
            "i",
            "j",
            F.round(
                F.col("c") - F.col("lam") * F.col("xi") * F.col("xj"), 9
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    v2, lam2 = _power(m2, "pca2b")
    return (
        v1.coalesce(1)
        .select("dim", F.round("x", 6).alias("pc1"))
        .join(
            F.broadcast(
                v2.coalesce(1).select("dim", F.round("x", 6).alias("pc2"))
            ),
            "dim",
        )
        .crossJoin(
            F.broadcast(lam1.select(F.round("lam", 6).alias("share_1")))
        )
        .crossJoin(
            F.broadcast(lam2.select(F.round("lam", 6).alias("share_2")))
        )
    )


def _pca2_power_sql(mat: str, tag: str) -> str:
    """Unrolled power-iteration CTE block over matrix CTE ``mat``;
    final sign-fixed vector lands in CTE ``w{tag}`` with eigenvalue in
    ``lam{tag}``."""
    parts = []
    prev = f"v{tag}0"
    parts.append(
        f"v{tag}0 AS MATERIALIZED (SELECT DISTINCT i AS dim, {_PCA_V0!r} AS x"
        f" FROM {mat})"
    )
    for t in range(1, _PCA_ITERS + 1):
        parts.append(f"""
u{tag}{t} AS MATERIALIZED (
  SELECT m.i AS d, ROUND(SUM(m.c * v.x), 9) AS ux
  FROM {mat} m JOIN {prev} v ON v.dim = m.j GROUP BY m.i
),
n{tag}{t} AS MATERIALIZED (SELECT ROUND(sqrt(SUM(ux * ux)), 9) AS nrm
  FROM u{tag}{t}),
v{tag}{t} AS MATERIALIZED (
  SELECT d AS dim, ROUND(ux / NULLIF(n{tag}{t}.nrm, 0.0), 9) AS x
  FROM u{tag}{t}, n{tag}{t})""")
        prev = f"v{tag}{t}"
    parts.append(f"""
sgn{tag} AS (
  SELECT COALESCE(MAX(s), 1.0) AS s FROM (
    SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
    FROM {prev} WHERE x IS NOT NULL AND x <> 0.0
    ORDER BY dim LIMIT 1)
),
w{tag} AS MATERIALIZED (
  SELECT dim, ROUND(sgn{tag}.s * x, 9) AS x FROM {prev}, sgn{tag}
),
lam{tag} AS MATERIALIZED (
  SELECT ROUND(SUM(vi.x * m.c * vj.x), 9) AS lam
  FROM {mat} m JOIN w{tag} vj ON vj.dim = m.j
               JOIN w{tag} vi ON vi.dim = m.i
)""")
    return ",".join(parts)


def _pca2_sql() -> str:
    return f"""
WITH ex AS (
  -- ROW-WISE pair expansion mirroring the engine's map-side moments:
  -- a vec_id self-join cross-multiplies rows under duplicate ids
  SELECT CAST(g.i - 1 AS BIGINT) AS i, CAST(h.j - 1 AS BIGINT) AS j,
         e.emb[g.i] AS xi, e.emb[h.j] AS xj
  FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings
        WHERE {_VEC_VALID_SQL}) e,
       UNNEST(range(1, LEAST(len(e.emb), {_PCA_DIMS}) + 1)) AS g(i),
       UNNEST(range(1, LEAST(len(e.emb), {_PCA_DIMS}) + 1)) AS h(j)
  WHERE h.j >= g.i
),
g AS MATERIALIZED (
  SELECT i, j,
    ROUND((SUM(xi * xj) - SUM(xi) * SUM(xj) / COUNT(*))
          / NULLIF(COUNT(*) - 1, 0), 9) AS c
  FROM ex GROUP BY i, j
),
tr AS (SELECT SUM(c) AS tr FROM g WHERE i = j),
m AS MATERIALIZED (
  SELECT i, j, ROUND(c / (CASE WHEN tr.tr > 0 THEN tr.tr END), 9) AS c
  FROM (SELECT i, j, c FROM g
        UNION ALL SELECT j, i, c FROM g WHERE i < j) raw, tr
),
{_pca2_power_sql("m", "a")},
m2 AS MATERIALIZED (
  SELECT m.i, m.j,
    ROUND(m.c - lama.lam * wi.x * wj.x, 9) AS c
  FROM m JOIN wa wi ON wi.dim = m.i
         JOIN wa wj ON wj.dim = m.j, lama
),
{_pca2_power_sql("m2", "b")}
SELECT wa.dim, ROUND(wa.x, 6) AS pc1, ROUND(wb.x, 6) AS pc2,
       ROUND(lama.lam, 6) AS share_1,
       ROUND(lamb.lam, 6) AS share_2
FROM wa JOIN wb ON wb.dim = wa.dim, lama, lamb
"""


QUERIES["pca_two_components_embeddings"] = (
    pca_two_components_embeddings
)
ORACLES["pca_two_components_embeddings"] = _pca2_sql()


# === Good-Turing frequency spectrum ==========================================

_GT_MAX_R = 5


def good_turing_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing smoothing inputs over the corpus BIGRAM-frequency
    spectrum: for r = 1..5, the type count N_r, the adjusted count
    r* = (r+1)·N_{r+1}/N_r, and the unseen-probability mass
    p₀ = N₁/N — the language-model-coverage estimator (how much
    probability belongs to bigrams the corpus has never seen).
    Bigrams, not unigrams: the synthetic fixture's unigram vocabulary
    is tiny and dense (31 types, min count 26 at sf0.01), so the
    low-frequency unigram spectrum is empty at every SF — a 0-row
    query proves nothing.

    Everything is an exact integer ratio (pair counts, spectrum
    counts) — no float aggregation anywhere.  Two bounded hash
    aggregates after the adjacent-pair expansion
    (llm/tokenizer.pair_counts_from_tokens — the BPE machinery)."""
    from nasa_asteroid_data_lakehouse_spark.llm import tokenizer

    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        text.tokens(text.normalized_text("text")).alias("toks")
    )
    counts = tokenizer.pair_counts_from_tokens(toks).select(
        F.col("pair_count").alias("c")
    )
    spectrum = (
        counts.where(F.col("c") <= _GT_MAX_R + 1)
        .groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    total = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_tokens")
    )
    nxt = spectrum.select(
        (F.col("r") - 1).alias("r"), F.col("n_types").alias("n_types_next")
    )
    return (
        spectrum.where(F.col("r") <= _GT_MAX_R)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "r",
            "n_types",
            F.round(
                F.try_divide(
                    (F.col("r") + 1) * F.coalesce("n_types_next", F.lit(0)),
                    F.col("n_types"),
                ),
                6,
            ).alias("r_star"),
            F.round(
                F.try_divide(
                    F.when(F.col("r") == 1, F.col("n_types")).otherwise(
                        F.lit(None)
                    ).cast("bigint"),
                    F.col("n_tokens"),
                ),
                6,
            ).alias("p0_unseen_mass"),
        )
    )


GOOD_TURING_SQL = f"""
WITH tk AS (
  SELECT {_TOKS} AS t FROM documents WHERE text IS NOT NULL
),
counts AS (
  SELECT COUNT(*) AS c FROM (
    SELECT t[i] AS a, t[i + 1] AS b
    FROM tk, UNNEST(range(1, len(t))) AS g(i)
    WHERE len(t) >= 2)
  GROUP BY a, b
),
spectrum AS (
  SELECT c AS r, COUNT(*) AS n_types FROM counts
  WHERE c <= {_GT_MAX_R + 1} GROUP BY c
),
total AS (SELECT COALESCE(SUM(c), 0) AS n_tokens FROM counts)
SELECT s.r, CAST(s.n_types AS BIGINT) AS n_types,
  ROUND((s.r + 1) * COALESCE(nx.n_types, 0)
        / NULLIF(CAST(s.n_types AS DOUBLE), 0.0), 6) AS r_star,
  ROUND(CASE WHEN s.r = 1 THEN s.n_types END
        / NULLIF(CAST(total.n_tokens AS DOUBLE), 0.0), 6)
    AS p0_unseen_mass
FROM spectrum s
LEFT JOIN spectrum nx ON nx.r = s.r + 1, total
WHERE s.r <= {_GT_MAX_R}
"""

QUERIES["good_turing_documents"] = good_turing_documents
ORACLES["good_turing_documents"] = GOOD_TURING_SQL


# === Gumbel (EV-I) fit of daily maxima =======================================

_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = 0.779696801233676


def gumbel_fit_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments Gumbel (EV-I) fit of the daily block maxima
    of event values: scale = std·√6/π, location = mean − γ·scale —
    the extreme-value tail model (what daily peak should capacity
    planning expect).

    One shuffle to the bounded daily-maxima table; moments via the
    fixed sum identities over its O(days) rows; the fit itself is
    scalar arithmetic with shared repr() constants."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & finite(F.col("value"))
    )
    daily = ev.groupBy(F.to_date("ts").alias("ds")).agg(
        F.max("value").alias("mx")
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).alias("ss"),
    )
    mean = F.try_divide(F.col("s"), F.col("n_days"))
    var = F.try_divide(
        F.col("ss") - F.col("s") * F.col("s") / F.col("n_days"),
        F.col("n_days") - 1,
    )
    scale = F.sqrt(F.greatest(var, F.lit(0.0))) * F.lit(_SQRT6_OVER_PI)
    return mom.where(F.col("n_days") > 0).select(
        "n_days",
        F.round(mean, 6).alias("mean_daily_max"),
        F.round(scale, 6).alias("gumbel_scale"),
        F.round(mean - F.lit(_EULER_GAMMA) * scale, 6).alias("gumbel_loc"),
    )


GUMBEL_FIT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS ds, MAX(value) AS mx
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
  GROUP BY CAST(ts AS DATE)
),
mom AS (
  SELECT COUNT(*) AS n_days, SUM(mx) AS s, SUM(mx * mx) AS ss FROM daily
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  ROUND(s / NULLIF(CAST(n_days AS DOUBLE), 0.0), 6) AS mean_daily_max,
  ROUND(sqrt(GREATEST((ss - s * s / n_days) / NULLIF(n_days - 1, 0), 0.0))
        * {_SQRT6_OVER_PI!r}, 6) AS gumbel_scale,
  ROUND(s / NULLIF(CAST(n_days AS DOUBLE), 0.0)
        - {_EULER_GAMMA!r}
          * sqrt(GREATEST((ss - s * s / n_days)
                          / NULLIF(n_days - 1, 0), 0.0))
          * {_SQRT6_OVER_PI!r}, 6) AS gumbel_loc
FROM mom
WHERE n_days > 0
"""

QUERIES["gumbel_fit_daily_events"] = gumbel_fit_daily_events
ORACLES["gumbel_fit_daily_events"] = GUMBEL_FIT_SQL


# === Hill tail-index estimator ===============================================

_HILL_K = 50


def hill_tail_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the price tail index: over the top-50 order
    totals (deterministic (price, key) order), the mean log-excess
    over the 50th value; alpha = 1/hill — the heavy-tail gauge
    (is revenue concentration Pareto-like, and how heavy).

    Top-k is TakeOrderedAndProject (never a corpus sort); the k-th
    value is one single-row broadcast; the 49-term log sum follows the
    daily-table float-aggregate convention (round 6)."""
    o = read_table(spark, sf_dir, "orders").where(
        finite(F.col("o_totalprice")) & (F.col("o_totalprice") > 0)
    )
    top = (
        o.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_HILL_K)
        .localCheckpoint()
    )
    kth = top.agg(F.min("o_totalprice").alias("xk"))
    n_top = top.count()
    excess = (
        top.crossJoin(F.broadcast(kth))
        .where(F.col("o_totalprice") > F.col("xk"))
        .select(
            (F.log("o_totalprice") - F.log("xk")).alias("lx"), "xk"
        )
    )
    agg = excess.groupBy("xk").agg(
        F.count(F.lit(1)).alias("n_excess"),
        F.round(F.avg("lx"), 6).alias("hill"),
    )
    return agg.select(
        F.lit(n_top).cast("bigint").alias("k"),
        F.round("xk", 2).alias("x_k"),
        "n_excess",
        "hill",
        F.round(F.try_divide(F.lit(1.0), F.col("hill")), 6).alias("alpha"),
    )


HILL_TAIL_SQL = f"""
WITH top AS (
  SELECT o_totalprice FROM orders
  WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    AND o_totalprice > 0
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {_HILL_K}
),
kth AS (SELECT MIN(o_totalprice) AS xk, COUNT(*) AS k FROM top),
excess AS (
  SELECT ln(t.o_totalprice) - ln(kth.xk) AS lx, kth.xk, kth.k
  FROM top t, kth WHERE t.o_totalprice > kth.xk
)
SELECT CAST(k AS BIGINT) AS k, ROUND(xk, 2) AS x_k,
       CAST(COUNT(*) AS BIGINT) AS n_excess,
       ROUND(AVG(lx), 6) AS hill,
       ROUND(1.0 / NULLIF(ROUND(AVG(lx), 6), 0.0), 6) AS alpha
FROM excess GROUP BY k, xk
"""

QUERIES["hill_tail_index_orders"] = hill_tail_index_orders
ORACLES["hill_tail_index_orders"] = HILL_TAIL_SQL
