"""Round-9 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

Families (VERDICT r07 ask #6 — the thinnest remaining areas):

* **Stream-stream interval-join replay** — the last streaming shape
  without a driver-checked replay twin (``interval_join_streams`` was
  tests-only): two real file-source streams, event-time interval join
  with watermarks on both sides, multi-batch availableNow drain.
* **Stream-static enrichment replay** — ``enrich_with_dim`` was also
  tests-only: per-micro-batch broadcast join against a static
  dimension, left-join keeping unmatched events.
* **VACUUM / retention** — expired-file removal plus the time-travel
  floor, oracle-checked end to end (``clone()`` documents the vacuum
  caveat; now the lifecycle itself is driver-verified).
* **Bucket re-partitioning** — ``VersionedTable.rebucket``: bucket-spec
  evolution (the count was fixed at create; OPTIMIZE rewrote within
  buckets only), with writers adopting the new space and the CDF
  proving a rebucket commit carries zero row changes.

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, COALESCE(...,0) on empty-input sums, payloads KEY-DERIVED so
duplicate-key sources collapse identically on both engines, synthetic
keys disjoint from the real keyspace (negative, with the real keyspace
filtered to >= 0 on both sides).

No reference analog for any of these: the reference
(``src/etl/*.py``) is a daily batch ETL with no streaming, no
manifest log, and no maintenance operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.plans import _NORM

QUERIES: dict = {}
ORACLES: dict = {}


# === Stream-stream interval-join replay ========================================

_IJ_GAP_DAYS = 1


def streaming_interval_join_replay_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sixth real streaming replay: STREAM-STREAM event-time interval
    join (streaming/events.interval_join_streams — previously the only
    streaming shape without a driver-checked replay twin).  The event
    log splits into two real file-source streams — even event_ids as
    the left ("impression") stream, odd as the right ("conversion")
    stream — each drained multi-batch (maxFilesPerTrigger=1,
    availableNow), joined on user_id with the right event constrained
    to (l_ts, l_ts + 1 day]: click->purchase attribution, the
    streaming twin of the batch range join.

    Both sides carry watermarks and the join bounds event time in both
    directions — the pair of constraints that lets Spark evict join
    state (without them a stream-stream join buffers forever).  As in
    every replay here the watermark horizon is DERIVED FROM THE DATA
    (span + 2-day margin, 365-day floor) so no in-span match is ever
    evicted or late and the streamed result equals the batch join
    EXACTLY, regardless of file/batch composition.  On a bounded
    replay that means state covers the span; in production the horizon
    is the lateness SLA and per-key state is O(events within
    gap + horizon) — the gap bound, not the stream length, sizes it.

    Output is the bounded audit aggregate (pair count, matched users,
    id sums) — pair-level output would be arrival-order independent
    too, but the aggregate keeps the driver compare O(1)."""
    from nasa_asteroid_data_lakehouse_spark.streaming.events import (
        interval_join_streams,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(
            F.col("event_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        # watermarks reject TIMESTAMP_NTZ; UTC-pinned session makes the
        # LTZ cast value-identical (same as streaming_dedup_replay)
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    )
    span = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    horizon_days = 365
    if span["lo"] is not None and span["hi"] is not None:
        horizon_days = max(horizon_days, (span["hi"] - span["lo"]).days + 2)
    left = ev.where(F.col("event_id") % 2 == 0)
    right = ev.where(F.col("event_id") % 2 == 1)

    with query_scratch("ndl_stream_ij_", sf_dir, "events") as tmp:
        src_l, src_r = f"{tmp}/in_l", f"{tmp}/in_r"
        left.repartition(2).write.parquet(src_l)
        right.repartition(2).write.parquet(src_r)
        joined = interval_join_streams(
            file_stream(spark, left, src_l),
            file_stream(spark, right, src_r),
            key="user_id",
            ts_col="ts",
            watermark=f"{horizon_days} days",
            max_gap=f"{_IJ_GAP_DAYS} day",
        ).select("l_event_id", "r_event_id", "l_user_id")
        got = drain_to_parquet(spark, joined, f"{tmp}/pairs", src_l, src_r)
        return (
            got.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.countDistinct("l_user_id").cast("bigint").alias("n_users"),
                F.coalesce(F.sum("l_event_id"), F.lit(0))
                .cast("bigint")
                .alias("lid_sum"),
                F.coalesce(F.sum("r_event_id"), F.lit(0))
                .cast("bigint")
                .alias("rid_sum"),
            )
            .localCheckpoint(eager=True)
        )


STREAMING_INTERVAL_JOIN_SQL = f"""
WITH ev AS (
  SELECT event_id, ts, user_id FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
),
j AS (
  SELECT l.event_id AS lid, r.event_id AS rid, l.user_id AS uid
  FROM ev l JOIN ev r
    ON l.user_id = r.user_id
   AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_IJ_GAP_DAYS} DAY
  WHERE l.event_id % 2 = 0 AND r.event_id % 2 = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(lid), 0) AS BIGINT) AS lid_sum,
       CAST(COALESCE(SUM(rid), 0) AS BIGINT) AS rid_sum
FROM j
"""

QUERIES["streaming_interval_join_replay_events"] = (
    streaming_interval_join_replay_events
)
ORACLES["streaming_interval_join_replay_events"] = (
    STREAMING_INTERVAL_JOIN_SQL
)


# === Stream-static enrichment replay ===========================================


def streaming_enrich_replay_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seventh streaming replay: STREAM-STATIC enrichment
    (streaming/events.enrich_with_dim — previously tests-only).  The
    event stream drains multi-batch through a per-micro-batch
    broadcast LEFT join against a static customer dimension (every
    third customer removed, so the unmatched path — late dim arrival —
    is exercised: those events survive with a NULL segment instead of
    silently dropping).  The static side holds no join state and the
    stream side keeps its partitioning: one broadcast per batch, zero
    stream shuffle — the most common streaming join in practice.

    Output: per-segment event counts and id sums (NULL segment is a
    real group)."""
    from nasa_asteroid_data_lakehouse_spark.streaming.events import enrich_with_dim
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull())
        .select("event_id", "user_id")
    )
    dim = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey").isNotNull() & (F.col("c_custkey") % 3 != 0))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )

    with query_scratch("ndl_stream_enrich_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        ev.repartition(4).write.parquet(src)
        enriched = enrich_with_dim(
            file_stream(spark, ev, src), dim, keys=["user_id"], how="left"
        )
        got = drain_to_parquet(spark, enriched, f"{tmp}/enriched", src)
        return (
            got.groupBy("segment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.coalesce(F.sum("event_id"), F.lit(0))
                .cast("bigint")
                .alias("id_sum"),
            )
            .orderBy(F.asc_nulls_first("segment"))
            .localCheckpoint(eager=True)
        )


STREAMING_ENRICH_SQL = """
WITH ev AS (
  SELECT event_id, user_id FROM events WHERE event_id IS NOT NULL
),
dim AS (
  SELECT c_custkey AS user_id, c_mktsegment AS segment
  FROM customer WHERE c_custkey IS NOT NULL AND c_custkey % 3 <> 0
)
SELECT dim.segment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(ev.event_id), 0) AS BIGINT) AS id_sum
FROM ev LEFT JOIN dim ON ev.user_id = dim.user_id
GROUP BY 1
ORDER BY segment NULLS FIRST
"""

QUERIES["streaming_enrich_replay_events"] = streaming_enrich_replay_events
ORACLES["streaming_enrich_replay_events"] = STREAMING_ENRICH_SQL


# === VACUUM / retention lifecycle ==============================================


def vacuum_retention_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention window, oracle-checked end to end
    (VERDICT r07 ask #6b): create -> upsert -> delete on a
    VersionedTable, then ``vacuum(keep_last=2)`` and prove

    * the LATEST snapshot is untouched (full key/payload audit),
    * time travel WITHIN retention (version 1) still reads,
    * the time-travel FLOOR is enforced: version 0 — its manifest
      removed, its replaced files reclaimed — is gone, as a flag the
      query derives by actually attempting the read.

    Payloads are KEY-DERIVED (cust = key % 97, cents = key % 500) and
    the real keyspace is filtered to >= 0 so the synthetic key (-1,
    upserted then deleted — guaranteeing every commit exists at every
    fixture) is disjoint by construction.  Scale: vacuum is one
    driver-side manifest walk plus unreferenced-file deletes; the
    stream-txn watermark folded into every manifest survives it
    (tests/test_versioned_table.py pins that)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & (F.col("o_orderkey") >= 0))
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 97).alias("cust"),
            (F.col("o_orderkey") % 500).alias("cents"),
        )
    )
    synthetic = spark.createDataFrame(
        [(-1, -1, -1)], "o_orderkey bigint, cust bigint, cents bigint"
    )
    with query_scratch("ndl_vacuum_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        updates = base.where(F.col("o_orderkey") % 6 == 0).select(
            "o_orderkey", "cust", (F.col("cents") + 1000).alias("cents")
        )
        v1 = t.upsert(updates.unionByName(synthetic))
        t.delete_where(
            ((F.col("o_orderkey") >= 0) & (F.col("o_orderkey") % 13 == 0))
            | (F.col("o_orderkey") == -1)
        )
        t.vacuum(keep_last=2)
        n_prev = t.read(version=v1).count()
        # only the EXPECTED failure counts as the retention floor: the
        # vacuumed manifest is gone -> FileNotFoundError.  Any other
        # exception (corrupt parquet, analysis error) must propagate,
        # not masquerade as floor enforcement (ADVICE r08).
        try:
            t.read(version=0).count()
            floor_enforced = 0
        except FileNotFoundError:
            floor_enforced = 1
        out = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("key_sum"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
            F.lit(int(n_prev)).cast("bigint").alias("n_rows_within_retention"),
            F.lit(int(floor_enforced)).cast("bigint").alias("floor_enforced"),
        )
        return out.localCheckpoint(eager=True)


VACUUM_RETENTION_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey >= 0
),
v1 AS (
  SELECT key,
         key % 500 + CASE WHEN key % 6 = 0 THEN 1000 ELSE 0 END AS cents
  FROM k
  UNION ALL SELECT -1, -1
),
v2 AS (
  SELECT key, cents FROM v1
  WHERE NOT ((key >= 0 AND key % 13 = 0) OR key = -1)
)
SELECT CAST((SELECT COUNT(*) FROM v2) AS BIGINT) AS n_rows,
       CAST((SELECT COALESCE(SUM(key), 0) FROM v2) AS BIGINT) AS key_sum,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM v2) AS BIGINT) AS cents_sum,
       CAST((SELECT COUNT(*) FROM v1) AS BIGINT) AS n_rows_within_retention,
       CAST(1 AS BIGINT) AS floor_enforced
"""

QUERIES["vacuum_retention_orders"] = vacuum_retention_orders
ORACLES["vacuum_retention_orders"] = VACUUM_RETENTION_SQL


# === Bucket re-partitioning round-trip =========================================


def rebucket_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-spec evolution round-trip (VERDICT r07 ask #6c): a table
    created with 4 buckets takes an upsert, is REBUCKETED to 8 (one
    full-rewrite maintenance commit — ``VersionedTable.rebucket``),
    then takes another upsert and a delete in the NEW bucket space.
    The audit proves

    * the rebucket commit changed ZERO rows (``changes()`` across it,
      emitted as cdf_rows_across_rebucket),
    * later writers adopted the new count (bucket_count from the
      final committed manifest),
    * the one-row-per-key invariant survived the re-hash (n_dup_keys),
    * and the final state equals the mutation algebra exactly.

    Payloads are KEY-DERIVED; the synthetic key (-1) rides through the
    rebucket untouched.  Scale: rebucket is the one deliberately
    full-table maintenance op; DOUBLING the count keeps the shuffle
    bucket-local (pmod(h, 2N) sends old bucket b only to b or b+N)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & (F.col("o_orderkey") >= 0))
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 97).alias("cust"),
            (F.col("o_orderkey") % 500).alias("cents"),
        )
    )
    synthetic = spark.createDataFrame(
        [(-1, -1, -1)], "o_orderkey bigint, cust bigint, cents bigint"
    )
    with query_scratch("ndl_rebucket_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=4)
        t.create(base, keys=["o_orderkey"])
        up1 = base.where(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey", "cust", (F.col("cents") + 1000).alias("cents")
        )
        v1 = t.upsert(up1.unionByName(synthetic))
        v2 = t.rebucket(8)
        cdf_rows = t.changes(v1, v2).count()
        up2 = base.where(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey", "cust", (F.col("cents") + 2000).alias("cents")
        )
        t.upsert(up2)
        t.delete_where(
            (F.col("o_orderkey") >= 0) & (F.col("o_orderkey") % 11 == 0)
        )
        final_manifest = t._load_manifest(t.latest_version())
        snap = t.read()
        n_dup = (
            snap.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .count()
        )
        out = snap.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("key_sum"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
            F.lit(int(final_manifest["num_buckets"])).cast("bigint").alias(
                "bucket_count"
            ),
            F.lit(int(cdf_rows)).cast("bigint").alias("cdf_rows_across_rebucket"),
            F.lit(int(n_dup)).cast("bigint").alias("n_dup_keys"),
        )
        return out.localCheckpoint(eager=True)


REBUCKET_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey >= 0
),
final AS (
  SELECT key,
         key % 500 + CASE WHEN key % 5 = 0 THEN 2000
                          WHEN key % 7 = 0 THEN 1000
                          ELSE 0 END AS cents
  FROM k
  WHERE NOT (key % 11 = 0)
  UNION ALL SELECT -1, -1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(key), 0) AS BIGINT) AS key_sum,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(8 AS BIGINT) AS bucket_count,
       CAST(0 AS BIGINT) AS cdf_rows_across_rebucket,
       CAST(0 AS BIGINT) AS n_dup_keys
FROM final
"""

QUERIES["rebucket_roundtrip_orders"] = rebucket_roundtrip_orders
ORACLES["rebucket_roundtrip_orders"] = REBUCKET_SQL


# === IVF nprobe tuning sweep ====================================================

_NSW_CENTROIDS = 8
_NSW_K = 10
_NSW_ANCHOR_MAX = 5
_NSW_PROBES = (4, 2, 1)

_NSW_VOK = (
    "embedding IS NOT NULL AND len(list_filter(embedding,"
    " x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
)


def ivf_nprobe_sweep_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ``nprobe`` TUNING SWEEP — the cost/recall table a retrieval
    team reads before fixing the probe count, the IVF twin of the
    MinHash (b, r) band sweep: one shared cell assignment + one shared
    anchor-pair table, then each config (nprobe = 4, 2, 1) is a filter
    on the anchor's probe rank.  Per config: candidates scored (the
    cost axis — pairs inside probed cells), exact-top-10 hits and
    micro-averaged recall (the quality axis), and the scan fraction
    vs brute force.  Nested probes (1 < 2 < 4 over one ranking) make
    sensitivity monotone by construction — pinned in pytest.

    Seed quantizer (8 lowest valid ids, kmeans iters=0) keeps the
    oracle SQL-expressible — the ivf_topk/ivf_recall contract.  Scale:
    anchors x centroids probe table is bounded; the pair table is
    |anchors| x N with the anchor side broadcast (the ann_recall
    shape); each config's audit is a bounded aggregate over a filter
    of the SHARED pair table, so the sweep pays ~one recall audit, not
    three."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = similarity.seed_centroids(emb, _NSW_CENTROIDS) or [[0.0]]
    pairs, probes = similarity._ivf_pairs(
        emb, centroids, _NSW_ANCHOR_MAX, max(_NSW_PROBES), "vec_id", "embedding"
    )
    probes = probes.localCheckpoint(eager=False)  # filtered once per config
    exact = similarity._topk(pairs, "cos", _NSW_K).localCheckpoint(eager=False)
    n_exact = F.broadcast(
        exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    n_total = F.broadcast(
        pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_total"))
    )
    rows = []
    for p in _NSW_PROBES:
        cand = pairs.join(
            probes.where(F.col("probe_rank") <= p).select("anchor_id", "cluster"),
            ["anchor_id", "cluster"],
        )
        approx = similarity._topk(cand, "cos", _NSW_K)
        hits = approx.join(exact, ["anchor_id", "nbr"])
        row = (
            cand.agg(
                F.lit(p).cast("bigint").alias("n_probe"),
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            )
            .crossJoin(
                F.broadcast(
                    hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
                )
            )
        )
        rows.append(row)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(n_exact)
        .crossJoin(n_total)
        .select(
            "n_probe",
            "n_candidates",
            "n_hits",
            "n_exact",
            F.round(F.try_divide(F.col("n_hits"), F.col("n_exact")), 6).alias(
                "recall"
            ),
            F.round(
                F.try_divide(F.col("n_candidates"), F.col("n_pairs_total")), 6
            ).alias("scan_fraction"),
        )
        .orderBy(F.desc("n_probe"))
    )


def _nsw_config_sql(p: int) -> str:
    return f"""SELECT CAST({p} AS BIGINT) AS n_probe,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs pr
        JOIN probe q ON pr.anchor_id = q.anchor_id
         AND pr.cluster = q.c AND q.rn <= {p}) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
          SELECT t.anchor_id, t.nbr FROM (
            SELECT pr.anchor_id, pr.nbr,
              row_number() OVER (PARTITION BY pr.anchor_id
                                 ORDER BY pr.cos DESC, pr.nbr ASC) AS rk
            FROM pairs pr
            JOIN probe q ON pr.anchor_id = q.anchor_id
             AND pr.cluster = q.c AND q.rn <= {p}) t
          WHERE t.rk <= {_NSW_K}) a
        JOIN exact e ON e.anchor_id = a.anchor_id AND e.nbr = a.nbr
       ) AS n_hits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
       ROUND((SELECT COUNT(*) FROM (
          SELECT t.anchor_id, t.nbr FROM (
            SELECT pr.anchor_id, pr.nbr,
              row_number() OVER (PARTITION BY pr.anchor_id
                                 ORDER BY pr.cos DESC, pr.nbr ASC) AS rk
            FROM pairs pr
            JOIN probe q ON pr.anchor_id = q.anchor_id
             AND pr.cluster = q.c AND q.rn <= {p}) t
          WHERE t.rk <= {_NSW_K}) a
        JOIN exact e ON e.anchor_id = a.anchor_id AND e.nbr = a.nbr)
        / NULLIF((SELECT COUNT(*) FROM exact), 0), 6) AS recall,
       ROUND((SELECT COUNT(*) FROM pairs pr
        JOIN probe q ON pr.anchor_id = q.anchor_id
         AND pr.cluster = q.c AND q.rn <= {p})
        / NULLIF((SELECT COUNT(*) FROM pairs), 0), 6) AS scan_fraction"""


IVF_NPROBE_SWEEP_SQL = f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, cv FROM (
    SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    WHERE {_NSW_VOK} ORDER BY vec_id LIMIT {_NSW_CENTROIDS})
),
valid AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_NSW_VOK}
),
assign AS (
  SELECT id, v, c FROM (
    SELECT e.id, e.v, s.c,
      row_number() OVER (
        PARTITION BY e.id ORDER BY list_distance(e.v, s.cv), s.c
      ) AS rn
    FROM valid e, seeds s) t
  WHERE rn = 1
),
anchors AS (SELECT id AS anchor_id, v AS av FROM valid
            WHERE id < {_NSW_ANCHOR_MAX}),
probe AS (
  SELECT anchor_id, c, rn FROM (
    SELECT a.anchor_id, s.c,
      row_number() OVER (
        PARTITION BY a.anchor_id ORDER BY list_distance(a.av, s.cv), s.c
      ) AS rn
    FROM anchors a, seeds s) t
  WHERE rn <= {max(_NSW_PROBES)}
),
pairs AS (
  SELECT a.anchor_id, b.id AS nbr, b.c AS cluster,
    ROUND(list_dot_product(a.av, b.v)
          / (sqrt(list_dot_product(a.av, a.av))
             * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM anchors a JOIN assign b ON a.anchor_id <> b.id
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_NSW_K}
)
{" UNION ALL ".join(_nsw_config_sql(p) for p in _NSW_PROBES)}
ORDER BY n_probe DESC
"""

QUERIES["ivf_nprobe_sweep_embeddings"] = ivf_nprobe_sweep_embeddings
ORACLES["ivf_nprobe_sweep_embeddings"] = IVF_NPROBE_SWEEP_SQL


# === Mixture temperature sweep ==================================================

_MTS_TARGET = 200
_MTS_ALPHAS = (100, 50, 25, 0)  # alpha * 100


def mixture_temperature_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampling-TEMPERATURE tuning sweep: per-source quotas for a
    200-doc mixture at alpha = 1, 0.5, 0.25, 0 — proportional,
    sqrt-flattened, doubly-flattened, and uniform mixing — the table a
    multi-source training run reads before fixing its sampling
    temperature (XLM-R-style source rebalancing;
    ``temperature_mixture`` applies ONE alpha, this sweeps the knob).

    Portability is why exactly these four alphas: alpha=1 is the raw
    count, alpha=0 is the constant 1, and alpha=0.5 / 0.25 are one and
    two IEEE-correctly-rounded sqrt applications on the integer weight
    lattice (floor(.*1000)) — an arbitrary pow(n, alpha) is NOT
    bit-identical across engines, iterated sqrt is.  Quotas use pure
    integer division.  Scale: one source-count aggregate shared by all
    four configs; each config is a handful of broadcast rows —
    O(sources) output, no selection pass (the quota table IS the
    tuning artifact; materializing a chosen mixture stays
    ``temperature_mixture``'s job)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=False)
    )

    def weight(alpha_pct: int):
        n = F.col("n_docs").cast("double")
        if alpha_pct == 100:
            return F.col("n_docs").cast("long")
        if alpha_pct == 50:
            return F.floor(F.sqrt(n) * 1000).cast("long")
        if alpha_pct == 25:
            return F.floor(F.sqrt(F.sqrt(n)) * 1000).cast("long")
        return F.lit(1).cast("long")

    rows = []
    for a in _MTS_ALPHAS:
        w = counts.withColumn("weight", weight(a))
        tot = w.agg(F.sum("weight").alias("total_w"))
        rows.append(
            w.crossJoin(F.broadcast(tot)).select(
                F.lit(a).cast("bigint").alias("alpha_pct"),
                "source",
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.least(
                    F.col("n_docs"),
                    F.expr(f"({_MTS_TARGET} * weight) div total_w"),
                )
                .cast("bigint")
                .alias("n_keep"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy(F.desc("alpha_pct"), F.asc_nulls_first("source"))


def _mts_config_sql(alpha_pct: int) -> str:
    if alpha_pct == 100:
        w = "CAST(n_docs AS BIGINT)"
    elif alpha_pct == 50:
        w = "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)"
    elif alpha_pct == 25:
        w = "CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000) AS BIGINT)"
    else:
        w = "CAST(1 AS BIGINT)"
    return f"""
SELECT CAST({alpha_pct} AS BIGINT) AS alpha_pct, source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(LEAST(n_docs, ({_MTS_TARGET} * w) // tw) AS BIGINT) AS n_keep
FROM (SELECT source, n_docs, {w} AS w FROM counts) c,
     (SELECT SUM({w}) AS tw FROM counts) t"""


MIXTURE_TEMPERATURE_SWEEP_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents
  WHERE doc_id IS NOT NULL GROUP BY 1
)
{" UNION ALL ".join(_mts_config_sql(a) for a in _MTS_ALPHAS)}
ORDER BY alpha_pct DESC, source NULLS FIRST
"""

QUERIES["mixture_temperature_sweep_documents"] = (
    mixture_temperature_sweep_documents
)
ORACLES["mixture_temperature_sweep_documents"] = (
    MIXTURE_TEMPERATURE_SWEEP_SQL
)


# === Physical erasure audit (delete + vacuum = bytes gone) ======================


def physical_erasure_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten AUDIT: after ``delete_where`` +
    ``vacuum``, the deleted keys are PHYSICALLY gone from every byte
    on disk — not just unreachable from the latest manifest.  A
    snapshot-isolated lakehouse deliberately keeps deleted rows in old
    files for time travel; compliance erasure is therefore delete +
    retention-expiry + vacuum, and the audit must scan the STORAGE
    (every parquet file under the table root, referenced or not),
    not the manifest view — a manifest-level check would pass even if
    vacuum never deleted a byte.

    Output: rows deleted (key-derived, oracle-computable), surviving
    rows, and leftover physical copies of deleted keys across ALL
    on-disk files (must be 0; emitted as a measured count, not an
    assertion).  The synthetic -1 key guarantees the delete commit
    exists at every fixture.  Scale: the audit scan is one anti-join
    of the raw file scan against the deleted-key set — O(storage),
    run at erasure-SLA cadence, bucket-pruned in practice by scanning
    only buckets that ever held the keys (this audit scans everything
    by design: it is the trust check)."""
    import os as _os

    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & (F.col("o_orderkey") >= 0))
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 97).alias("cust"),
            (F.col("o_orderkey") % 500).alias("cents"),
        )
    )
    synthetic = spark.createDataFrame(
        [(-1, -1, -1)], "o_orderkey bigint, cust bigint, cents bigint"
    )
    with query_scratch("ndl_erasure_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base.unionByName(synthetic), keys=["o_orderkey"])
        erase = (F.col("o_orderkey") % 9 == 0) | (F.col("o_orderkey") == -1)
        t.delete_where(erase)
        t.vacuum(keep_last=1)
        # the audit: EVERY parquet byte under the root, referenced or not
        files = [
            _os.path.join(dirpath, f)
            for dirpath, _dirs, fs in _os.walk(_os.path.join(tmp, "data"))
            for f in fs
            if f.endswith(".parquet")
        ]
        if files:
            on_disk = spark.read.option("mergeSchema", "true").parquet(*files)
        else:
            on_disk = spark.createDataFrame(
                [], "o_orderkey bigint, cust bigint, cents bigint"
            )
        leftover = on_disk.where(erase).count()
        out = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("key_sum"),
            F.lit(int(leftover)).cast("bigint").alias("n_physical_leftover"),
        )
        return out.localCheckpoint(eager=True)


PHYSICAL_ERASURE_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey >= 0
),
survivors AS (
  SELECT key FROM k WHERE NOT (key % 9 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(key), 0) AS BIGINT) AS key_sum,
       CAST(0 AS BIGINT) AS n_physical_leftover
FROM survivors
"""

QUERIES["physical_erasure_audit_orders"] = physical_erasure_audit_orders
ORACLES["physical_erasure_audit_orders"] = PHYSICAL_ERASURE_SQL


# === Stream-stream LEFT OUTER interval-join replay ==============================


def streaming_outer_join_replay_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eighth streaming replay: stream-stream LEFT OUTER interval join
    — the WATERMARK-EMISSION semantics the inner replay cannot see.
    An unmatched left row only emits its NULL-padded result when the
    watermark proves no future match can arrive (wm > l_ts + gap,
    STRICT — pinned empirically: at wm == l_ts + gap the row does NOT
    emit), and rows near the stream end whose join window the final
    watermark never passes are SUPPRESSED, not emitted — exactly
    Delta/Flink-style outer-join eviction, and the part every outer
    streaming join user gets wrong the first time.

    Determinism engineering: horizon = 0 seconds and both sides are
    replayed as TIME-QUARTILE ordered single-file batches (the
    session-replay technique — percentile cuts, no global window), so
    no row is ever late: each side's batch k+1 carries only
    timestamps >= its batch k maximum, and the query watermark is the
    MIN across the two inputs of (max event time seen), which the
    oracle reproduces as LEAST-free per-side comparisons (NULL-safe:
    an empty side never advances the watermark, so no outer row ever
    emits — the stream behavior).  The audit aggregate separates
    matched pairs, emitted NULL rows, and (by subtraction in the
    oracle) suppressed tails."""
    from nasa_asteroid_data_lakehouse_spark.streaming.events import (
        interval_join_streams,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(
            F.col("event_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    )
    left = ev.where(F.col("event_id") % 2 == 0)
    right = ev.where(F.col("event_id") % 2 == 1)
    from nasa_asteroid_data_lakehouse_spark.streaming.tuning import (
        write_time_quartile_batches,
    )

    with query_scratch("ndl_stream_oj_", sf_dir, "events") as tmp:
        src_l, src_r = f"{tmp}/in_l", f"{tmp}/in_r"
        # Same time-quartile mtime-pinned batches as before (the
        # ADVICE r08 ordering pin), written in ONE job per side
        # instead of four (streaming/tuning.py).
        write_time_quartile_batches(left, src_l)
        write_time_quartile_batches(right, src_r)
        joined = interval_join_streams(
            file_stream(spark, left, src_l),
            file_stream(spark, right, src_r),
            key="user_id",
            ts_col="ts",
            watermark="0 seconds",
            max_gap=f"{_IJ_GAP_DAYS} day",
            how="leftOuter",
        ).select("l_event_id", "r_event_id")
        got = drain_to_parquet(spark, joined, f"{tmp}/rows", src_l, src_r)
        return (
            got.agg(
                F.coalesce(
                    F.sum(F.when(F.col("r_event_id").isNotNull(), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_pairs"),
                F.coalesce(
                    F.sum(F.when(F.col("r_event_id").isNull(), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_outer_nulls"),
                F.coalesce(F.sum("l_event_id"), F.lit(0))
                .cast("bigint")
                .alias("lid_sum"),
                F.coalesce(F.sum("r_event_id"), F.lit(0))
                .cast("bigint")
                .alias("rid_sum"),
            )
            .localCheckpoint(eager=True)
        )


STREAMING_OUTER_JOIN_SQL = f"""
WITH ev AS (
  SELECT event_id, ts, user_id FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
),
l AS (SELECT * FROM ev WHERE event_id % 2 = 0),
r AS (SELECT * FROM ev WHERE event_id % 2 = 1),
j AS (
  SELECT l.event_id AS lid, r.event_id AS rid
  FROM l JOIN r
    ON l.user_id = r.user_id
   AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_IJ_GAP_DAYS} DAY
),
-- watermark-emission rule (pinned empirically): an unmatched left row
-- emits a NULL-padded result iff the FINAL watermark passed its join
-- window STRICTLY: l.ts + gap < max(ts) on BOTH inputs (the query
-- watermark is the min across inputs; per-side comparisons are
-- NULL-safe, so an empty side suppresses every outer row)
outer_nulls AS (
  SELECT l.event_id AS lid FROM l
  WHERE NOT EXISTS (
    SELECT 1 FROM r
    WHERE r.user_id = l.user_id
      AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_IJ_GAP_DAYS} DAY
  )
  AND l.ts + INTERVAL {_IJ_GAP_DAYS} DAY < (SELECT MAX(ts) FROM l)
  AND l.ts + INTERVAL {_IJ_GAP_DAYS} DAY < (SELECT MAX(ts) FROM r)
)
SELECT CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_pairs,
       CAST((SELECT COUNT(*) FROM outer_nulls) AS BIGINT) AS n_outer_nulls,
       CAST(COALESCE((SELECT SUM(lid) FROM j), 0)
            + COALESCE((SELECT SUM(lid) FROM outer_nulls), 0) AS BIGINT)
         AS lid_sum,
       CAST(COALESCE((SELECT SUM(rid) FROM j), 0) AS BIGINT) AS rid_sum
"""

QUERIES["streaming_outer_join_replay_events"] = (
    streaming_outer_join_replay_events
)
ORACLES["streaming_outer_join_replay_events"] = STREAMING_OUTER_JOIN_SQL


# === Context-length packing sweep ===============================================

_PKS_BUDGETS = (512, 1024, 2048, 4096)
_PKS_BASE = 2048  # any budget works: the cumsum is budget-independent


def packing_budget_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTEXT-LENGTH tuning sweep — the fourth knob table (bands,
    nprobe, temperature, now sequence length): per training context
    budget (512/1024/2048/4096 tokens), the bins the deterministic
    per-lang packer uses, the per-lang ceil lower bound, mean bin
    fill, and the docs that OVERFLOW the budget (must be split or
    truncated — the cost a small context hides).  This is the table a
    pretraining run reads before fixing its sequence length against
    its real document-length distribution.

    One shared per-lang token cumsum serves every config: the packer's
    pack id is floor((cum - n) / budget), so the expensive pass (one
    per-lang window over token counts) runs ONCE and each budget is a
    projection + bounded aggregate — the sweep costs ~one
    pack_efficiency query, not four.  Scale: the cumsum is per-lang
    partitioned (never a global window); outputs are 4 rows."""
    from nasa_asteroid_data_lakehouse_spark.llm.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "text"
    )
    base = (
        pack_documents(docs, budget=_PKS_BASE, partition_cols=["lang"])
        .select("lang", "n_tokens", "cum_tokens")
        .localCheckpoint(eager=False)
    )
    rows = []
    for b in _PKS_BUDGETS:
        pid = F.floor((F.col("cum_tokens") - F.col("n_tokens")) / b)
        per_lang = base.select("lang", "n_tokens", pid.alias("pid")).groupBy(
            "lang"
        ).agg(
            F.sum("n_tokens").alias("lang_tokens"),
            F.countDistinct("pid").alias("lang_bins"),
            F.coalesce(
                F.sum(F.when(F.col("n_tokens") > b, 1)), F.lit(0)
            ).alias("lang_overflow"),
        )
        rows.append(
            per_lang.agg(
                F.lit(b).cast("bigint").alias("budget"),
                F.coalesce(F.sum("lang_tokens"), F.lit(0))
                .cast("bigint")
                .alias("total_tokens"),
                F.coalesce(F.sum("lang_bins"), F.lit(0))
                .cast("bigint")
                .alias("bins_used"),
                F.coalesce(
                    F.sum(
                        F.expr(f"(lang_tokens + {b} - 1) div {b}")
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("bins_lower_bound"),
                F.coalesce(F.sum("lang_overflow"), F.lit(0))
                .cast("bigint")
                .alias("overflow_docs"),
                F.round(
                    F.try_divide(
                        F.sum("lang_tokens"), F.sum("lang_bins") * F.lit(b)
                    ),
                    6,
                ).alias("mean_fill"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("budget")


def _pks_config_sql(b: int) -> str:
    return f"""
SELECT CAST({b} AS BIGINT) AS budget,
       CAST(COALESCE(SUM(lang_tokens), 0) AS BIGINT) AS total_tokens,
       CAST(COALESCE(SUM(lang_bins), 0) AS BIGINT) AS bins_used,
       CAST(COALESCE(SUM((lang_tokens + {b} - 1) // {b}), 0) AS BIGINT)
         AS bins_lower_bound,
       CAST(COALESCE(SUM(lang_overflow), 0) AS BIGINT) AS overflow_docs,
       ROUND(SUM(lang_tokens) / NULLIF(SUM(lang_bins) * {b}, 0), 6)
         AS mean_fill
FROM (
  SELECT lang,
         SUM(n_tokens) AS lang_tokens,
         COUNT(DISTINCT CAST(floor((cum_tokens - n_tokens) / {b}) AS BIGINT))
           AS lang_bins,
         SUM(CASE WHEN n_tokens > {b} THEN 1 ELSE 0 END) AS lang_overflow
  FROM c GROUP BY lang
) pl"""


PACKING_BUDGET_SWEEP_SQL = rf"""
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
{" UNION ALL ".join(_pks_config_sql(b) for b in _PKS_BUDGETS)}
ORDER BY budget
"""

QUERIES["packing_budget_sweep_documents"] = packing_budget_sweep_documents
ORACLES["packing_budget_sweep_documents"] = PACKING_BUDGET_SWEEP_SQL


# === Jaccard threshold sweep ====================================================

_JTS_N = 8            # signature length
_JTS_K = 2            # shingle size (words) — the dedup family's setting
_JTS_BANDS = 4        # fixed (4, 2) banding: the production config
_JTS_MAX_BUCKET = 1000
_JTS_THRESHOLDS = (90, 70, 50)  # jaccard * 100
_JTS_SAMPLE = 100_000  # md5-rank sample cap, enforced in-code (band-sweep rule)


def jaccard_threshold_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-AGGRESSIVENESS tuning sweep — the knob the band sweep
    holds fixed: at the production (4, 2) MinHash banding, how many
    verified near-dup pairs survive at jaccard >= 0.9 / 0.7 / 0.5,
    and the candidate-set precision at each cut.  This is the table
    that turns "dedup the corpus" into a chosen operating point: 0.9
    removes only near-exact copies, 0.5 starts eating paraphrases —
    the counts quantify the tradeoff on the corpus at hand.

    ONE shared build (NULL-text contract applied before shingling, the
    band-sweep lesson; md5-rank sample cap ENFORCED in-code, no-op at
    test SFs), one banded candidate join with the family's max_bucket
    quadratic guard, one exact-jaccard verify — each threshold is a
    filter over the same verified-pair frame (checkpointed, so the
    expensive verify runs once).  Nested thresholds make the counts
    monotone by construction; precision = verified/candidates is an
    integer ratio, immune to float-reduction order."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    # doc_id IS NOT NULL matters for the CAP, not just the joins:
    # md5(NULL) sorts NULLS FIRST in Spark but NULLS LAST in DuckDB, so
    # above _JTS_SAMPLE docs the two engines would sample different sets
    # (ADVICE r08; same rule applied to the r08 band-sweep cap).
    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select("doc_id", "text")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(_JTS_SAMPLE)
    )
    sh = dedup.word_shingles("text", _JTS_K)
    base = (
        dedup._fan_out(docs.select(F.col("doc_id").alias("doc"), "text"))
        .select("doc", sh.alias("sh"))
        .withColumn("sig", dedup.minhash_signature(F.col("sh"), _JTS_N))
        .localCheckpoint(eager=False)
    )
    rpb = _JTS_N // _JTS_BANDS
    entries = base.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(",", F.slice("sig", b * rpb + 1, rpb))
                        ).alias("bucket"),
                    )
                    for b in range(_JTS_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    sizes = entries.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    bounded = entries.join(
        sizes.where(F.col("n") <= _JTS_MAX_BUCKET).select("band", "bucket"),
        ["band", "bucket"],
    )
    a, b2 = bounded.alias("a"), bounded.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    sh_a = base.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
            ).alias("jaccard"),
        )
        .localCheckpoint(eager=False)  # verify once; 3 threshold filters
    )
    n_cand = F.broadcast(
        cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    )
    rows = []
    for t in _JTS_THRESHOLDS:
        rows.append(
            scored.where(F.col("jaccard") >= t / 100.0).agg(
                F.lit(t).cast("bigint").alias("threshold_pct"),
                F.count(F.lit(1)).cast("bigint").alias("n_verified"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(n_cand)
        .select(
            "threshold_pct",
            "n_candidates",
            "n_verified",
            F.round(
                F.try_divide(F.col("n_verified"), F.col("n_candidates")), 6
            ).alias("precision"),
        )
        .orderBy(F.desc("threshold_pct"))
    )


def _jts_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    coeffs = dedup._minhash_coeffs(_JTS_N)
    sig = ", ".join(
        f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in coeffs
    )
    k = _JTS_K
    rpb = _JTS_N // _JTS_BANDS
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS BIGINT) AS threshold_pct,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM scored
        WHERE jaccard >= {t / 100.0!r}) AS n_verified,
       ROUND((SELECT COUNT(*) FROM scored WHERE jaccard >= {t / 100.0!r})
             / NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision"""
        for t in _JTS_THRESHOLDS
    )
    return rf"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {k}
         THEN list_distinct(list_transform(range(1, len(words) - {k - 2}),
                            j -> array_to_string(words[j:j+{k - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words
        FROM (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              LIMIT {_JTS_SAMPLE}))
),
sig AS (
  SELECT doc_id, shingles, [{sig}] AS s
  FROM (SELECT doc_id, shingles,
          list_transform(shingles, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS bh
        FROM sh)
),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(s[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS bucket
  FROM sig, (SELECT unnest(range({_JTS_BANDS})) AS b)
),
bounded AS (
  SELECT doc_id, b, bucket FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY b, bucket) <= {_JTS_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bounded a JOIN bounded c
    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id
),
scored AS (
  SELECT id_a, id_b,
         ROUND(len(list_intersect(x.shingles, y.shingles))
               / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
           AS jaccard
  FROM cand
  JOIN sig x ON x.doc_id = id_a
  JOIN sig y ON y.doc_id = id_b
)
{selects}
ORDER BY threshold_pct DESC
"""


QUERIES["jaccard_threshold_sweep_documents"] = (
    jaccard_threshold_sweep_documents
)
ORACLES["jaccard_threshold_sweep_documents"] = _jts_sql()
