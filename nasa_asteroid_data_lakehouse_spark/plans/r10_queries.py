"""Round-10 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

Families (VERDICT r08 "engine-internal gaps" + natural continuations):

* **Timestamp-as-of time travel** — ``read(timestamp=...)`` /
  ``version_as_of`` (Delta's latest-commit-<=-ts rule), driver-checked
  through a multi-commit lifecycle including the vacuum truncation
  contract.
* **RESTORE** — rollback as a NEW zero-copy commit, with the CDF
  classifying the undo delta (the feed a downstream replica applies to
  follow a rollback without rescan).
* **Deletion vectors** — ``delete_where(deferred=True)`` merge-on-read
  deletes: O(deleted keys) commit cost instead of O(owning buckets)
  rewrite, logical reads identical, physical purge via compact+vacuum
  (the write-amplification fix the r08 verdict flagged for 100 TB).
* **CDF stream replay** — a replica follows the table through upsert /
  deferred-delete / restore commits purely from ``changes()`` feeds,
  proving the CDF algebra composes across every commit type.
* **Quantization-bits sweep** — the sixth knob table (bands, nprobe,
  temperature, packing, jaccard; now storage precision): ranking
  agreement vs exact cosine at int8/int4/int2, ONE shared pair frame
  serving every config.
* **Stream-stream FULL OUTER interval-join replay** — the remaining
  outer-emission semantics: each unmatched side emits NULL-padded rows
  only when the watermark passes its join window, with PER-SIDE
  strictness pinned empirically (left strict, right non-strict — the
  join condition's asymmetric bounds flip the eviction rule).

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, COALESCE(...,0) on empty-input sums, payloads KEY-DERIVED so
duplicate-key sources collapse identically on both engines, synthetic
keys disjoint from the real keyspace (negative, with the real keyspace
filtered to >= 0 on both sides), float outputs on a 6-decimal lattice
with single final divisions (no float-sum reductions).

No reference analog for any of these: the reference (``src/etl/*.py``)
is a daily batch ETL with no manifest log, no time travel, and no
vector search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch

QUERIES: dict = {}
ORACLES: dict = {}


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-lifecycle fixture every r10 lake query builds from:
    key-derived payloads so duplicate-key sources collapse identically
    on both engines, keyspace restricted to >= 0 so synthetic negative
    keys stay disjoint."""
    return (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & (F.col("o_orderkey") >= 0))
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 500).alias("cents"),
        )
    )


_ORDERS_BASE_SQL = """
  SELECT DISTINCT o_orderkey AS key, o_orderkey % 500 AS cents
  FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey >= 0
"""


def _row_set_mismatch(got: DataFrame, want: DataFrame, cols: list[str]) -> int:
    """|got ∖ want| + |want ∖ got| under NULL-safe equality on ``cols``
    — the replica==upstream audit, in ONE full-outer join job instead
    of two anti-join jobs (guide §1.2: fewer passes).  Equal to the
    anti-join pair by construction: an unmatched row appears exactly
    once with the other side NULL-padded (no match ⇒ no fanout), a
    matched row contributes to neither count.

    COST ASSUMPTION (ADVICE r11 #3): rows duplicated on BOTH sides fan
    out m×n in the full-outer join where the anti-join pair was linear
    per side.  The result is still equal (duplicated matched rows add
    to neither counter), but keep call sites on unique-ish row sets —
    every current caller joins snapshots keyed by o_orderkey, whose
    one-row-per-key invariant the table enforces at create/upsert.  For
    duplicate-heavy audits, pre-aggregate each side to (row, count)
    first."""
    g = got.select(
        *[F.col(c).alias(f"g_{c}") for c in cols], F.lit(1).alias("__g")
    )
    w = want.select(
        *[F.col(c).alias(f"w_{c}") for c in cols], F.lit(1).alias("__w")
    )
    cond = None
    for c in cols:
        term = F.col(f"g_{c}").eqNullSafe(F.col(f"w_{c}"))
        cond = term if cond is None else cond & term
    row = (
        g.join(w, cond, "full_outer")
        .agg(
            # the markers are literal 1s, so a NULL marker can only mean
            # "no row on that side" — NULL data values cannot fake it
            F.coalesce(
                F.sum(F.when(F.col("__w").isNull(), 1)), F.lit(0)
            ).alias("g_only"),
            F.coalesce(
                F.sum(F.when(F.col("__g").isNull(), 1)), F.lit(0)
            ).alias("w_only"),
        )
        .first()
    )
    return int(row["g_only"]) + int(row["w_only"])


# === Timestamp-as-of time travel ================================================


def time_travel_timestamp_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF, driver-checked through a three-commit
    lifecycle: create -> upsert (bump cents of key%6==0 by 1000) ->
    delete (key%13==0).  A timestamp between the upsert and the delete
    resolves to the upsert snapshot (Delta's latest-commit-<=-ts rule,
    ``lake/table.py:version_as_of``); a timestamp after the head
    resolves to the head; a timestamp before the first surviving
    commit RAISES (vacuum truncates answerable history — asserted by
    the ``before_first_raises`` flag).

    Scale: resolution is a driver-side manifest walk (newest-first,
    stops at the first hit), O(versions-behind-head) JSON reads and
    zero data I/O — the data cost is exactly the resolved snapshot's
    bucket-pruned read, same as VERSION AS OF."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_ttts_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        v1 = t.upsert(
            base.where(F.col("o_orderkey") % 6 == 0).select(
                "o_orderkey", (F.col("cents") + 1000).alias("cents")
            )
        )
        v2 = t.delete_where(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") >= 0)
        )
        c0 = float(t._load_manifest(0)["committed_at"])
        c1 = float(t._load_manifest(v1)["committed_at"])
        c2 = float(t._load_manifest(v2)["committed_at"])
        mid = (c1 + c2) / 2.0
        asof_mid = t.read(timestamp=mid).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        head = t.read(timestamp=c2 + 3600.0).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        try:
            t.version_as_of(c0 - 3600.0)
            before_first_raises = 0
        except ValueError:
            before_first_raises = 1
        out = spark.createDataFrame(
            [
                (
                    int(asof_mid["n"]),
                    int(asof_mid["s"]),
                    int(head["n"]),
                    int(head["s"]),
                    int(t.version_as_of(mid)),
                    int(t.version_as_of(c2 + 3600.0)),
                    int(before_first_raises),
                )
            ],
            "n_rows_asof_mid bigint, cents_sum_asof_mid bigint, "
            "n_rows_head bigint, cents_sum_head bigint, "
            "resolved_mid_version bigint, resolved_head_version bigint, "
            "before_first_raises bigint",
        )
        return out.localCheckpoint(eager=True)


TIME_TRAVEL_TIMESTAMP_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
v1 AS (
  SELECT key,
         cents + CASE WHEN key % 6 = 0 THEN 1000 ELSE 0 END AS cents
  FROM base
),
v2 AS (SELECT key, cents FROM v1 WHERE NOT (key % 13 = 0))
SELECT CAST((SELECT COUNT(*) FROM v1) AS BIGINT) AS n_rows_asof_mid,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM v1) AS BIGINT)
         AS cents_sum_asof_mid,
       CAST((SELECT COUNT(*) FROM v2) AS BIGINT) AS n_rows_head,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM v2) AS BIGINT)
         AS cents_sum_head,
       CAST(1 AS BIGINT) AS resolved_mid_version,
       -- the delete only commits when a key%13 row exists (a no-op
       -- delete never spams history), so tiny fixtures stay at head 1
       CASE WHEN EXISTS (SELECT 1 FROM base WHERE key % 13 = 0)
            THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END
         AS resolved_head_version,
       CAST(1 AS BIGINT) AS before_first_raises
"""

QUERIES["time_travel_timestamp_orders"] = time_travel_timestamp_orders
ORACLES["time_travel_timestamp_orders"] = TIME_TRAVEL_TIMESTAMP_SQL


# === RESTORE with CDF undo feed =================================================


def restore_undo_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE as a NEW commit with the undo delta classified by the
    ordinary CDF: create -> upsert (bump key%5==0 by 1000, insert the
    synthetic key -1) -> delete (key%7==0, and -1) -> restore(0).
    ``changes(pre_restore_head, restored)`` then reads as the exact
    undo feed: the deleted key%7 rows come back as inserts, the
    surviving bumped rows revert as update_postimage, and nothing
    deletes (the synthetic insert was already deleted pre-restore) —
    the feed a downstream replica applies to follow the rollback
    without a full rescan.

    Scale: the restore commit itself is O(1) (zero-copy manifest
    referencing the target snapshot's immutable files); the undo feed
    is O(changed buckets) like every CDF read."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    synthetic = spark.createDataFrame(
        [(-1, -1)], "o_orderkey bigint, cents bigint"
    )
    with query_scratch("ndl_restore_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        v2 = t.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1)
        )
        v3 = t.restore(0)
        feed = t.changes(v2, v3)
        by_type = {
            r["_change_type"]: int(r["n"])
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        final = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        out = spark.createDataFrame(
            [
                (
                    int(final["n"]),
                    int(final["s"]),
                    by_type.get("insert", 0),
                    by_type.get("update_postimage", 0),
                    by_type.get("delete", 0),
                )
            ],
            "n_rows_final bigint, cents_sum_final bigint, "
            "n_undo_inserts bigint, n_undo_updates bigint, "
            "n_undo_deletes bigint",
        )
        return out.localCheckpoint(eager=True)


RESTORE_UNDO_FEED_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL})
SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows_final,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM base) AS BIGINT)
         AS cents_sum_final,
       CAST((SELECT COUNT(*) FROM base WHERE key % 7 = 0) AS BIGINT)
         AS n_undo_inserts,
       CAST((SELECT COUNT(*) FROM base
             WHERE key % 5 = 0 AND NOT key % 7 = 0) AS BIGINT)
         AS n_undo_updates,
       CAST(0 AS BIGINT) AS n_undo_deletes
"""

QUERIES["restore_undo_feed_orders"] = restore_undo_feed_orders
ORACLES["restore_undo_feed_orders"] = RESTORE_UNDO_FEED_SQL


# === Deletion vectors: merge-on-read proof ======================================


def dv_merge_on_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read bargain, driver-checked end to end: a
    deferred delete (key%9==0) must (a) vanish from every logical
    read, (b) touch ZERO data files — the audit compares the manifest
    bucket map before/after and scans the raw bucket files, which
    still hold every pre-delete row — (c) keep snapshot isolation
    (version 0 still sees the rows), and (d) physically erase only
    after the purge (compact with DV debt as the trigger, then
    vacuum), when the raw-file scan drops to exactly the survivors.

    Both physical row counts are HASH-INDEPENDENT by construction
    (before purge nothing is rewritten anywhere; after purge every
    bucket holds exactly its logical rows), so the oracle states them
    from arithmetic alone."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_dv_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        m0 = t._load_manifest(0)
        v1 = t.delete_where(
            (F.col("o_orderkey") % 9 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )
        m1 = t._load_manifest(v1)

        def physical_rows() -> int:
            m = t._load_manifest(t.latest_version())
            files = [f for fs in m["buckets"].values() for f in fs]
            if not files:
                return 0
            return spark.read.parquet(*files).count()

        rewrote = 0 if m1["buckets"] == m0["buckets"] else 1
        physical_before = physical_rows()
        n_rows_v0 = t.read(version=0).count()
        logical = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        # purge: DV debt triggers the compaction rewrite even though no
        # bucket exceeds the file target; vacuum then drops the old files
        t.compact(target_files_per_bucket=1000)
        t.vacuum(keep_last=1)
        physical_after = physical_rows()
        out = spark.createDataFrame(
            [
                (
                    int(logical["n"]),
                    int(logical["s"]),
                    int(rewrote),
                    int(physical_before),
                    int(physical_after),
                    int(n_rows_v0),
                )
            ],
            "n_rows bigint, cents_sum bigint, files_rewritten_by_delete bigint, "
            "physical_before_purge bigint, physical_after_purge bigint, "
            "n_rows_v0 bigint",
        )
        return out.localCheckpoint(eager=True)


DV_MERGE_ON_READ_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
survivors AS (SELECT key, cents FROM base WHERE NOT (key % 9 = 0))
SELECT CAST((SELECT COUNT(*) FROM survivors) AS BIGINT) AS n_rows,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM survivors) AS BIGINT)
         AS cents_sum,
       CAST(0 AS BIGINT) AS files_rewritten_by_delete,
       CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS physical_before_purge,
       CAST((SELECT COUNT(*) FROM survivors) AS BIGINT)
         AS physical_after_purge,
       CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows_v0
"""

QUERIES["dv_merge_on_read_orders"] = dv_merge_on_read_orders
ORACLES["dv_merge_on_read_orders"] = DV_MERGE_ON_READ_SQL


# === Deletion vectors: rewrite materialization ==================================


def dv_upsert_materialize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A later upsert into a DV-carrying bucket must MATERIALIZE the
    vector (apply it during the rewrite, then drop it) without
    resurrecting deleted rows: after a deferred delete of key%4==0 and
    an upsert bumping key%6==0 (cents+2000), the final state is
    survivors-plus-upserted — key%12==0 rows were deleted AND
    re-upserted so they exist with the new payload, key%4-not-%6 rows
    stay deleted (``n_resurrected`` pins that at zero from the read
    itself), key%6-not-%4 rows carry the bump."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_dvu_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.delete_where(
            (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )
        t.upsert(
            base.where(F.col("o_orderkey") % 6 == 0).select(
                "o_orderkey", (F.col("cents") + 2000).alias("cents")
            )
        )
        got = t.read()
        out = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
            F.coalesce(
                F.sum(F.when(F.col("cents") >= 2000, 1)), F.lit(0)
            ).cast("bigint").alias("n_bumped"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("o_orderkey") % 4 == 0)
                        & (F.col("o_orderkey") % 6 != 0),
                        1,
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("n_resurrected"),
        )
        return out.localCheckpoint(eager=True)


DV_UPSERT_MATERIALIZE_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key,
         cents + CASE WHEN key % 6 = 0 THEN 2000 ELSE 0 END AS cents
  FROM base
  WHERE NOT (key % 4 = 0) OR key % 6 = 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(COALESCE(SUM(CASE WHEN cents >= 2000 THEN 1 END), 0) AS BIGINT)
         AS n_bumped,
       CAST(0 AS BIGINT) AS n_resurrected
FROM final
"""

QUERIES["dv_upsert_materialize_orders"] = dv_upsert_materialize_orders
ORACLES["dv_upsert_materialize_orders"] = DV_UPSERT_MATERIALIZE_SQL


# === Commit-log audit across the full maintenance surface ======================


def lake_history_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit log as a queryable audit: one row per version with
    the operation and that snapshot's LOGICAL row count, across a
    lifecycle that exercises every r9/r10 commit type — create,
    deferred delete, upsert, compact (DV purge), restore.  Time travel
    must see through deletion vectors version by version (version v's
    read applies exactly version v's vectors), and the restore row
    must equal the create row.

    Structural determinism at ANY input: the create always includes
    the synthetic key -1 and the deferred delete always targets it, so
    both commits happen even on single-row fixtures; the upsert
    inserts only the synthetic key -2, whose bucket (xxhash64(-2)%8=6)
    differs from -1's (2), so the upsert can never materialize -1's
    deletion vector and compact's DV-debt trigger is guaranteed —
    exactly 5 history rows at every SF."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    synthetic = spark.createDataFrame(
        [(-1, -1)], "o_orderkey bigint, cents bigint"
    )
    with query_scratch("ndl_hist_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base.unionByName(synthetic), keys=["o_orderkey"])
        t.delete_where(
            ((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        t.upsert(
            spark.createDataFrame(
                [(-2, -2)], "o_orderkey bigint, cents bigint"
            )
        )
        t.compact(target_files_per_bucket=1000)
        t.restore(0)
        rows = []
        for h in sorted(t.history(), key=lambda h: h["version"]):
            rows.append(
                (
                    int(h["version"]),
                    str(h["operation"]),
                    int(t.read(version=h["version"]).count()),
                )
            )
        out = spark.createDataFrame(
            rows, "version bigint, operation string, n_rows bigint"
        )
        return out.localCheckpoint(eager=True)


LAKE_HISTORY_AUDIT_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
n AS (SELECT COUNT(*) AS n_all FROM base),
d AS (SELECT COUNT(*) AS n_del FROM base WHERE key % 11 = 0)
SELECT * FROM (
  -- create includes the synthetic -1 row
  SELECT CAST(0 AS BIGINT) AS version, 'create' AS operation,
         CAST(n_all + 1 AS BIGINT) AS n_rows FROM n
  UNION ALL
  -- deferred delete removes key%11 rows and the synthetic -1
  SELECT CAST(1 AS BIGINT), 'delete_deferred',
         CAST(n_all - n_del AS BIGINT) FROM n, d
  UNION ALL
  -- upsert inserts only the synthetic -2
  SELECT CAST(2 AS BIGINT), 'upsert',
         CAST(n_all - n_del + 1 AS BIGINT) FROM n, d
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'compact',
         CAST(n_all - n_del + 1 AS BIGINT) FROM n, d
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'restore', CAST(n_all + 1 AS BIGINT) FROM n
) ORDER BY version
"""

QUERIES["lake_history_audit_orders"] = lake_history_audit_orders
ORACLES["lake_history_audit_orders"] = LAKE_HISTORY_AUDIT_SQL


# === CDF stream replay across commit types ======================================


def cdf_stream_replay_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A downstream replica follows the table purely from per-version
    ``changes()`` feeds — the CDC consumer loop — across EVERY commit
    type in one chain: upsert (bump key%5, insert synthetic -1),
    deferred delete (key%7 and -1: the dv-diff path of the
    changed-bucket detector), restore(0) (the undo feed).  The replica
    starts at version 0 and applies the three feeds with
    ``apply_changes``; the audit pins replica == head row-for-row
    (``n_mismatch`` computed by a full NULL-safe anti-join, not just
    aggregates) plus each feed's size.

    Scale: each apply is one key anti-join + union, O(feed) not
    O(table); the feeds themselves are O(changed buckets)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    synthetic = spark.createDataFrame(
        [(-1, -1)], "o_orderkey bigint, cents bigint"
    )
    with query_scratch("ndl_cdfr_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        t.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        t.restore(0)
        replica = t.read(version=0)
        head_v = t.latest_version()
        # Each version's diff runs in a Python-DataSource-style scan the
        # old form executed TWICE (once for the count, once inside the
        # apply cascade).  Checkpoint each feed eagerly so the diff runs
        # once — and materialize the per-version feeds from a small
        # thread pool (guide §2.6): they depend only on the committed
        # manifests, never on each other, so their scans back-fill each
        # other's idle executors instead of running back to back.
        from concurrent.futures import ThreadPoolExecutor

        def _feed(v: int) -> DataFrame:
            return t.changes(v - 1, v).localCheckpoint(eager=True)

        with ThreadPoolExecutor(max_workers=3) as pool:
            feeds = list(pool.map(_feed, range(1, head_v + 1)))
        feed_counts = []
        for feed in feeds:
            feed_counts.append(int(feed.count()))
            # eager=False: the plan still truncates per applied version
            # (the iterated-plan rule is about PLAN size), but the three
            # applies materialize inside the mismatch job's cascade
            # instead of one eager job per version (guide §1.2).
            replica = VersionedTable.apply_changes(
                replica, feed, keys=["o_orderkey"]
            ).localCheckpoint(eager=False)
        head = t.read()
        mismatch = _row_set_mismatch(replica, head, ["o_orderkey", "cents"])
        agg = replica.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        out = spark.createDataFrame(
            [
                (
                    int(agg["n"]),
                    int(agg["s"]),
                    int(mismatch),
                    int(feed_counts[0]),
                    int(feed_counts[1]),
                    int(feed_counts[2]),
                )
            ],
            "n_rows bigint, cents_sum bigint, n_mismatch bigint, "
            "n_feed_upsert bigint, n_feed_delete bigint, n_feed_restore bigint",
        )
        return out.localCheckpoint(eager=True)


CDF_STREAM_REPLAY_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL})
SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows,
       CAST((SELECT COALESCE(SUM(cents), 0) FROM base) AS BIGINT)
         AS cents_sum,
       CAST(0 AS BIGINT) AS n_mismatch,
       -- upsert feed: every key%5 row updates (+1000 is always a real
       -- change), plus the synthetic insert
       CAST((SELECT COUNT(*) FROM base WHERE key % 5 = 0) + 1 AS BIGINT)
         AS n_feed_upsert,
       -- deferred-delete feed: key%7 rows plus the synthetic row
       CAST((SELECT COUNT(*) FROM base WHERE key % 7 = 0) + 1 AS BIGINT)
         AS n_feed_delete,
       -- restore undo feed: key%7 rows re-insert, surviving key%5 rows
       -- revert; the synthetic row was already gone pre-restore
       CAST((SELECT COUNT(*) FROM base WHERE key % 7 = 0) AS BIGINT)
         + CAST((SELECT COUNT(*) FROM base
                 WHERE key % 5 = 0 AND NOT key % 7 = 0) AS BIGINT)
         AS n_feed_restore
"""

QUERIES["cdf_stream_replay_orders"] = cdf_stream_replay_orders
ORACLES["cdf_stream_replay_orders"] = CDF_STREAM_REPLAY_SQL


# === Quantization-bits sweep ====================================================

_QBS_ANCHOR_MAX = 25
_QBS_K = 10
_QBS_BITS = (8, 4, 2)


def quant_bits_sweep_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORAGE-PRECISION tuning sweep — the sixth knob table: ranking
    agreement (overlap@10 vs exact cosine) at int8 / int4 / int2
    symmetric quantization, the table a vector store reads before
    fixing its code width.  int8 is usually lossless-for-ranking, int4
    marginal, int2 (sign-with-deadzone) measurably lossy — this
    quantifies each on the corpus at hand.

    ONE shared pair frame serves every config (the sweep discipline:
    bands/nprobe/temperature/packing/jaccard all built this way): the
    anchor-broadcast join computes the exact cosine and all three
    integer code dot products in a single projection, so adding a bit
    width costs one integer column, not another |anchors| x N pass.
    The per-vector scale cancels in the cosine, so each config
    isolates pure quantization loss (llm/similarity.quantized_recall
    is the single-config form).  All dot products are exact integer
    arithmetic; the only float ops are one sqrt and one final division
    per pair, 6-decimal lattice — portable across engines.  Zero-norm
    vectors are excluded on both sides (a zero vector has no cosine
    ranking).  Output: 3 rows."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    base = similarity._vectors(emb, "vec_id", "embedding").where(F.col("nrm") > 0)
    for bits in _QBS_BITS:
        base = similarity._lattice_codes(
            base, 2 ** (bits - 1) - 1, f"c{bits}", f"qn{bits}"
        )
    pairs = similarity._anchor_pairs(
        base.localCheckpoint(eager=False),
        _QBS_ANCHOR_MAX,
        cos=similarity._pair_cos(),
        **{f"q{b}": similarity._pair_cos(f"c{b}", f"qn{b}") for b in _QBS_BITS},
    )
    exact = similarity._topk(pairs, "cos", _QBS_K).localCheckpoint(eager=False)
    n_exact_total = int(exact.count())
    n_anchors = int(exact.select("anchor_id").distinct().count())
    rows = []
    for bits in _QBS_BITS:
        quant = similarity._topk(pairs, f"q{bits}", _QBS_K)
        rows.append(
            exact.join(quant, ["anchor_id", "nbr"]).agg(
                F.lit(bits).cast("bigint").alias("bits"),
                F.lit(n_anchors).cast("bigint").alias("n_anchors"),
                F.lit(n_exact_total).cast("bigint").alias("n_exact_total"),
                F.count(F.lit(1)).cast("bigint").alias("sum_hits"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "bits",
        "n_anchors",
        "n_exact_total",
        "sum_hits",
        F.round(
            F.try_divide(F.col("sum_hits"), F.col("n_exact_total")), 6
        ).alias("overlap"),
    ).orderBy(F.desc("bits"))


def _qbs_sql() -> str:
    codes = ",\n         ".join(
        f"list_transform(v, x -> floor(x * (CASE WHEN mx > 0 "
        f"THEN {2 ** (b - 1) - 1}.0 / mx ELSE 1.0 END) + 0.5)) AS c{b}"
        for b in _QBS_BITS
    )
    qscores = ",\n    ".join(
        f"ROUND(list_dot_product(a.c{b}, x.c{b}) / "
        f"(sqrt(list_dot_product(a.c{b}, a.c{b})) * "
        f"sqrt(list_dot_product(x.c{b}, x.c{b}))), 6) AS q{b}"
        for b in _QBS_BITS
    )
    per_bits = "\nUNION ALL\n".join(
        f"""SELECT CAST({b} AS BIGINT) AS bits,
       (SELECT CAST(COUNT(DISTINCT anchor_id) AS BIGINT) FROM exact)
         AS n_anchors,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact e
        JOIN (SELECT anchor_id, nbr FROM
              (SELECT anchor_id, nbr,
                      row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY q{b} DESC, nbr ASC) AS rk
               FROM pairs) t WHERE rk <= {_QBS_K}) q
          ON q.anchor_id = e.anchor_id AND q.nbr = e.nbr) AS sum_hits,
       ROUND((SELECT COUNT(*) FROM exact e
              JOIN (SELECT anchor_id, nbr FROM
                    (SELECT anchor_id, nbr,
                            row_number() OVER (PARTITION BY anchor_id
                                               ORDER BY q{b} DESC, nbr ASC) AS rk
                     FROM pairs) t WHERE rk <= {_QBS_K}) q
                ON q.anchor_id = e.anchor_id AND q.nbr = e.nbr)
             / NULLIF((SELECT COUNT(*) FROM exact), 0), 6) AS overlap"""
        for b in _QBS_BITS
    )
    return f"""
WITH valid AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
base AS (
  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm,
         {codes}
  FROM valid
),
pairs AS (
  SELECT a.id AS anchor_id, x.id AS nbr,
    ROUND(list_dot_product(a.v, x.v) / (a.nrm * x.nrm), 6) AS cos,
    {qscores}
  FROM base a JOIN base x ON a.id <> x.id
  WHERE a.id < {_QBS_ANCHOR_MAX}
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_QBS_K}
)
{per_bits}
ORDER BY bits DESC
"""


QUERIES["quant_bits_sweep_embeddings"] = quant_bits_sweep_embeddings
ORACLES["quant_bits_sweep_embeddings"] = _qbs_sql()


# === Stream-stream FULL OUTER interval-join replay ==============================

_FOJ_GAP_DAYS = 1


def streaming_full_outer_join_replay_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ninth streaming replay: stream-stream FULL OUTER interval join —
    the remaining outer-emission semantics after the r09 LEFT OUTER
    replay, with the watermark rule for EACH side pinned empirically
    (they are NOT symmetric, because the join condition
    ``l_ts < r_ts <= l_ts + gap`` is strict on one bound and inclusive
    on the other):

    * an unmatched LEFT row emits its NULL-padded result iff
      ``l_ts + gap < wm`` STRICTLY (same rule as leftOuter — at
      equality the row does NOT emit);
    * an unmatched RIGHT row emits iff ``r_ts <= wm`` NON-strictly (a
      future left must satisfy ``l_ts < r_ts`` and arrives with
      ``l_ts >= wm``, so at ``wm == r_ts`` no future match exists and
      the row is evictable — pinned by test and by the boundary row in
      the oracle);

    where ``wm`` is the final query watermark = min across the two
    inputs of (max event time seen), horizon 0.  Rows whose window the
    final watermark never passes are SUPPRESSED, not emitted.

    Determinism engineering as in the r09 outer replay: horizon 0 +
    TIME-QUARTILE ordered single-file batches on both sides (mtime-
    pinned so FileStreamSource cannot reorder ties), so no row is ever
    late and the end state is a pure function of the data."""
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

    with query_scratch("ndl_stream_foj_", sf_dir, "events") as tmp:
        src_l, src_r = f"{tmp}/in_l", f"{tmp}/in_r"
        # Same time-quartile mtime-pinned batches as before, written in
        # ONE job per side instead of four (streaming/tuning.py).
        write_time_quartile_batches(left, src_l)
        write_time_quartile_batches(right, src_r)
        joined = interval_join_streams(
            file_stream(spark, left, src_l),
            file_stream(spark, right, src_r),
            key="user_id",
            ts_col="ts",
            watermark="0 seconds",
            max_gap=f"{_FOJ_GAP_DAYS} day",
            how="fullOuter",
        ).select("l_event_id", "r_event_id")
        got = drain_to_parquet(spark, joined, f"{tmp}/rows", src_l, src_r)
        return (
            got.agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("l_event_id").isNotNull()
                            & F.col("r_event_id").isNotNull(),
                            1,
                        )
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_pairs"),
                F.coalesce(
                    F.sum(F.when(F.col("r_event_id").isNull(), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_left_nulls"),
                F.coalesce(
                    F.sum(F.when(F.col("l_event_id").isNull(), 1)), F.lit(0)
                )
                .cast("bigint")
                .alias("n_right_nulls"),
                F.coalesce(F.sum("l_event_id"), F.lit(0))
                .cast("bigint")
                .alias("lid_sum"),
                F.coalesce(F.sum("r_event_id"), F.lit(0))
                .cast("bigint")
                .alias("rid_sum"),
            )
            .localCheckpoint(eager=True)
        )


STREAMING_FULL_OUTER_JOIN_SQL = f"""
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
   AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_FOJ_GAP_DAYS} DAY
),
-- LEFT emission (strict, as pinned in the r09 leftOuter replay):
-- l.ts + gap < wm on BOTH inputs (wm = min of per-side max event
-- times; NULL-safe comparisons, so an empty side suppresses)
left_nulls AS (
  SELECT l.event_id AS lid FROM l
  WHERE NOT EXISTS (
    SELECT 1 FROM r
    WHERE r.user_id = l.user_id
      AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_FOJ_GAP_DAYS} DAY
  )
  AND l.ts + INTERVAL {_FOJ_GAP_DAYS} DAY < (SELECT MAX(ts) FROM l)
  AND l.ts + INTERVAL {_FOJ_GAP_DAYS} DAY < (SELECT MAX(ts) FROM r)
),
-- RIGHT emission (NON-strict, pinned empirically: l_ts < r_ts is
-- strict, so at wm == r.ts no future left can match)
right_nulls AS (
  SELECT r.event_id AS rid FROM r
  WHERE NOT EXISTS (
    SELECT 1 FROM l
    WHERE l.user_id = r.user_id
      AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL {_FOJ_GAP_DAYS} DAY
  )
  AND r.ts <= (SELECT MAX(ts) FROM l)
  AND r.ts <= (SELECT MAX(ts) FROM r)
)
SELECT CAST((SELECT COUNT(*) FROM j) AS BIGINT) AS n_pairs,
       CAST((SELECT COUNT(*) FROM left_nulls) AS BIGINT) AS n_left_nulls,
       CAST((SELECT COUNT(*) FROM right_nulls) AS BIGINT) AS n_right_nulls,
       CAST(COALESCE((SELECT SUM(lid) FROM j), 0)
            + COALESCE((SELECT SUM(lid) FROM left_nulls), 0) AS BIGINT)
         AS lid_sum,
       CAST(COALESCE((SELECT SUM(rid) FROM j), 0)
            + COALESCE((SELECT SUM(rid) FROM right_nulls), 0) AS BIGINT)
         AS rid_sum
"""

QUERIES["streaming_full_outer_join_replay_events"] = (
    streaming_full_outer_join_replay_events
)
ORACLES["streaming_full_outer_join_replay_events"] = (
    STREAMING_FULL_OUTER_JOIN_SQL
)


# === Vector store over the lakehouse: ANN with merge-on-read deletes ============


def dv_vector_store_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The VECTOR-STORE-OVER-LAKEHOUSE composition: embeddings live in
    a VersionedTable keyed by vec_id, vectors are retired with a
    DEFERRED delete (a vector store deletes constantly — re-encoded
    docs, GDPR — and rewriting owning buckets per retire is exactly
    the amplification DVs remove), and similarity search runs over
    ``t.read()`` — the deleted vectors vanish from the top-k without
    any index rebuild, because the DV anti-join happens below the
    scoring plan.  Exact top-20 to the vec_id=0 probe (the
    cosine_topk shape) with vec_id%5==2 retired.

    Per-identity contract (as every vector-store op): assumes unique
    vec_ids upstream — the KEY_UNIQUE skip class in the gates."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .where(
            F.col("vec_id").isNotNull()
            & similarity.vec_valid(F.col("embedding"))
        )
        .select("vec_id", "embedding")
    )
    with query_scratch("ndl_dvvs_", sf_dir, "embeddings") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(emb, keys=["vec_id"])
        t.delete_where(
            (F.col("vec_id") % 5 == 2) & (F.col("vec_id") >= 0),
            deferred=True,
        )
        store = t.read()
        query = store.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        scored = store.crossJoin(F.broadcast(query)).select(
            "vec_id",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("query_vec")), 6
            ).alias("cosine_sim"),
        )
        return (
            scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .limit(20)
            .localCheckpoint(eager=True)
        )


DV_VECTOR_STORE_TOPK_SQL = """
WITH live AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
    AND NOT (vec_id % 5 = 2 AND vec_id >= 0)
),
q AS (SELECT embedding::DOUBLE[] AS query_vec FROM live WHERE vec_id = 0)
SELECT vec_id,
  ROUND(list_dot_product(embedding::DOUBLE[], query_vec::DOUBLE[])
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product(query_vec::DOUBLE[], query_vec::DOUBLE[]))),
        6) AS cosine_sim
FROM live, q
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""

QUERIES["dv_vector_store_topk_embeddings"] = (
    dv_vector_store_topk_embeddings
)
ORACLES["dv_vector_store_topk_embeddings"] = DV_VECTOR_STORE_TOPK_SQL


# === OPTIMIZE ZORDER purges deletion vectors ====================================


def optimize_dv_purge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND purge path: ``optimize(zorder_by=...)`` is a full
    rewrite, so it must materialize every deletion vector (survivors
    only land in the z-sliced files) and commit with an empty ``dvs``
    map — after optimize + vacuum the raw storage holds exactly the
    survivors, byte-for-byte (hash-independent, like the compact-purge
    audit).  This is the production rhythm: deferred deletes accrue
    between maintenance windows, OPTIMIZE pays the debt while it
    improves the layout anyway."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_odv_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.delete_where(
            (F.col("o_orderkey") % 8 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )
        v = t.optimize(zorder_by=["cents"], files_per_bucket=2)
        m = t._load_manifest(v)
        dvs_after = 1 if m.get("dvs") else 0
        t.vacuum(keep_last=1)
        files = [f for fs in m["buckets"].values() for f in fs]
        physical = (
            spark.read.parquet(*files).count() if files else 0
        )
        logical = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        out = spark.createDataFrame(
            [
                (
                    int(logical["n"]),
                    int(logical["s"]),
                    int(dvs_after),
                    int(physical),
                )
            ],
            "n_rows bigint, cents_sum bigint, dvs_after_optimize bigint, "
            "physical_after_vacuum bigint",
        )
        return out.localCheckpoint(eager=True)


OPTIMIZE_DV_PURGE_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
survivors AS (SELECT key, cents FROM base WHERE NOT (key % 8 = 0))
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(0 AS BIGINT) AS dvs_after_optimize,
       CAST(COUNT(*) AS BIGINT) AS physical_after_vacuum
FROM survivors
"""

QUERIES["optimize_dv_purge_orders"] = optimize_dv_purge_orders
ORACLES["optimize_dv_purge_orders"] = OPTIMIZE_DV_PURGE_SQL


# === Streaming CDF subscription through the table_changes source ===============


def streaming_cdf_subscription_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC SUBSCRIPTION, end to end through the real source:
    ``spark.readStream.format("table_changes")`` (sources/cdf_stream.py
    — offsets are commit versions, one executor task per changed
    bucket) drains a commit chain covering every round-9/10 commit
    type — upsert (bump key%5, insert the synthetic -1), DEFERRED
    delete (key%7 and -1: the dv-diff changed-bucket path), restore(0)
    (the undo feed) — with ``availableNow`` and a real checkpoint.
    The audit aggregates the drained feed per change type and counts
    distinct commit versions; the arithmetic is the cdf_stream_replay
    chain's, so the subscription is provably the same feed the batch
    CDF computes, delivered with streaming offset semantics.

    Scale: the source diffs O(changed buckets) per commit on
    executors; the subscription never scans unchanged data."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import drain_to_parquet

    cdf_stream.register(spark)
    base = _orders_base(spark, sf_dir)
    synthetic = spark.createDataFrame(
        [(-1, -1)], "o_orderkey bigint, cents bigint"
    )

    with query_scratch("ndl_cdfsub_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, f"{tmp}/t", num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        t.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        t.restore(0)
        subscription = (
            spark.readStream.format("table_changes")
            .option("path", t.root)
            .option("starting_version", 1)
            .load()
        )
        feed = drain_to_parquet(spark, subscription, f"{tmp}/rows", t.root)
        return (
            feed.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_feed_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("_change_type") == "insert", 1)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_inserts"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("_change_type") == "update_postimage", 1)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_updates"),
                F.coalesce(
                    F.sum(F.when(F.col("_change_type") == "delete", 1)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_deletes"),
                F.countDistinct("_commit_version")
                .cast("bigint")
                .alias("n_versions"),
            )
            .localCheckpoint(eager=True)
        )


STREAMING_CDF_SUBSCRIPTION_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
n5 AS (SELECT COUNT(*) AS c FROM base WHERE key % 5 = 0),
n7 AS (SELECT COUNT(*) AS c FROM base WHERE key % 7 = 0),
n57 AS (SELECT COUNT(*) AS c FROM base WHERE key % 5 = 0 AND NOT key % 7 = 0)
-- v1 upsert: n5 updates + 1 insert (synthetic -1)
-- v2 deferred delete: n7 + 1 deletes (the dv-diff path)
-- v3 restore undo: n7 re-inserts + n57 reverts (-1 already gone)
SELECT CAST((SELECT c FROM n5) + 1 + (SELECT c FROM n7) + 1
            + (SELECT c FROM n7) + (SELECT c FROM n57) AS BIGINT)
         AS n_feed_rows,
       CAST(1 + (SELECT c FROM n7) AS BIGINT) AS n_inserts,
       CAST((SELECT c FROM n5) + (SELECT c FROM n57) AS BIGINT) AS n_updates,
       CAST((SELECT c FROM n7) + 1 AS BIGINT) AS n_deletes,
       -- a version appears in the feed only if it emitted rows: v1/v2
       -- always do (the synthetic row), v3's undo feed is empty when
       -- no key%5 / key%7 rows exist (tiny fixtures)
       CAST(2 + CASE WHEN (SELECT c FROM n7) + (SELECT c FROM n57) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS n_versions
"""

QUERIES["streaming_cdf_subscription_orders"] = (
    streaming_cdf_subscription_orders
)
ORACLES["streaming_cdf_subscription_orders"] = (
    STREAMING_CDF_SUBSCRIPTION_SQL
)


# === Decontamination n-gram sweep ===============================================

_DNS_NS = (2, 3, 5)


def decontamination_ngram_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DECONTAMINATION tuning sweep — the seventh knob table: how many
    corpus documents share at least one word n-gram with the held-out
    eval slice (doc_id%97==0, the decontaminate_documents split) at
    n = 2 / 3 / 5.  Small n over-flags (common phrases), large n
    under-flags (only verbatim spans) — this table is what a training
    run reads before fixing its contamination n (the 13-gram folklore
    is a point on this curve, not a law).

    ONE pass over the corpus serves every config: the per-doc token
    array materializes once and each n's shingle set derives from it
    in the same projection (a struct-array explode tags rows with n),
    so adding an n costs one array column, not another corpus scan.
    The eval side stays broadcast exactly as in the registered
    decontaminate query; counts are monotone NON-INCREASING in n by
    construction (an (n+1)-gram match implies an n-gram match on the
    same tokens).  Output: 3 rows."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        *[dedup.word_shingles("text", n).alias(f"sh{n}") for n in _DNS_NS],
    )
    entries = base.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("bigint").alias("n"),
                        F.col(f"sh{n}").alias("sh"),
                    )
                    for n in _DNS_NS
                ]
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.n").alias("n"), F.explode("t.sh").alias("shingle"))
    ev = (
        entries.where(F.col("doc_id") % 97 == 0)
        .select("n", "shingle")
        .distinct()
    )
    corpus = entries.where(F.col("doc_id") % 97 != 0)
    n_corpus_docs = int(
        docs.where(F.col("doc_id") % 97 != 0).count()
    )  # bounded scalar (includes shingle-less docs; the rate's denominator)
    # Dedup AFTER the broadcast semi-screen, not before (guide §2.3 —
    # shuffle fewer bytes): word_shingles is already distinct per
    # document, so (doc_id, n, shingle) rows only duplicate under
    # duplicate doc_id source rows, and distinct-then-join ≡
    # join-then-distinct for an equi-join against a DISTINCT broadcast
    # side.  The exchange now carries only the HITS (matched shingles),
    # not every corpus shingle string.
    hits = corpus.join(F.broadcast(ev), ["n", "shingle"]).distinct()
    agg = hits.groupBy("n").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_contaminated"),
        F.count(F.lit(1)).cast("bigint").alias("n_overlap_pairs"),
    )
    grid = spark.createDataFrame([(n,) for n in _DNS_NS], "n bigint")
    return (
        grid.join(agg, "n", "left")
        .select(
            "n",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.coalesce("n_overlap_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_overlap_pairs"),
            F.lit(n_corpus_docs).cast("bigint").alias("n_corpus_docs"),
            F.round(
                F.try_divide(
                    F.coalesce("n_contaminated", F.lit(0)), F.lit(n_corpus_docs)
                ),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("n")
    )


def _dns_sql() -> str:
    norm = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    per_n = "\nUNION ALL\n".join(
        f"""SELECT CAST({n} AS BIGINT) AS n,
       (SELECT CAST(COUNT(DISTINCT c.doc_id) AS BIGINT)
        FROM corpus{n} c JOIN ev{n} e USING (shingle)) AS n_contaminated,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM corpus{n} c JOIN ev{n} e USING (shingle)) AS n_overlap_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        WHERE doc_id % 97 <> 0) AS n_corpus_docs,
       ROUND((SELECT COUNT(DISTINCT c.doc_id)
              FROM corpus{n} c JOIN ev{n} e USING (shingle))
             / NULLIF((SELECT COUNT(*) FROM documents
                       WHERE doc_id % 97 <> 0), 0), 6)
         AS contamination_rate"""
        for n in _DNS_NS
    )
    shingle_ctes = ",\n".join(
        f"""sh{n} AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {n}
         THEN list_distinct(list_transform(range(1, len(words) - {n - 2}),
                            j -> array_to_string(words[j:j+{n - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w
),
ev{n} AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh{n}
          WHERE doc_id % 97 = 0),
corpus{n} AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh{n}
              WHERE doc_id % 97 <> 0)"""
        for n in _DNS_NS
    )
    return rf"""
WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS words FROM documents),
{shingle_ctes}
{per_n}
ORDER BY n
"""


QUERIES["decontamination_ngram_sweep_documents"] = (
    decontamination_ngram_sweep_documents
)
ORACLES["decontamination_ngram_sweep_documents"] = _dns_sql()


# === Quality-gate threshold sweep ===============================================

_QTS_MIN_WORDS = (5, 25, 100)


def quality_threshold_sweep_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CURATION-GATE tuning sweep — the eighth knob table: the
    Gopher-style composite gate's survivors and TOKEN YIELD as the
    minimum-word-count threshold moves (5 / 25 / 100 words), every
    other rule held at production values.  This is the curation trade
    a pretraining run prices before fixing its gate: each step of the
    threshold buys quality and pays tokens — the yield column is the
    bill.

    ONE shared feature frame serves every config (the sweep
    discipline): ``llm/curation.quality_filter`` computes the per-doc
    stats and rule booleans once, and each threshold is a boolean
    filter over the same checkpointed frame — three bounded
    aggregates, not three corpus scans.  Counts are monotone
    NON-INCREASING in the threshold by construction.  Output: 3
    rows."""
    from nasa_asteroid_data_lakehouse_spark.llm import curation

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = int(docs.count())  # bounded scalar, the keep-rate denominator
    qf = curation.quality_filter(docs).localCheckpoint(eager=False)
    other_ok = (
        F.col("ok_avg_word_len")
        & F.col("ok_top_word")
        & F.col("ok_dup_bigram")
        & F.col("ok_stopwords")
    )
    rows = []
    for t in _QTS_MIN_WORDS:
        kept = other_ok & (
            F.col("n_words") >= t
        ) & (F.col("n_words") <= curation.QF_MAX_WORDS)
        rows.append(
            qf.agg(
                F.lit(t).cast("bigint").alias("min_words"),
                F.coalesce(F.sum(F.when(kept, 1)), F.lit(0))
                .cast("bigint")
                .alias("n_kept"),
                F.coalesce(F.sum(F.when(kept, F.col("n_words"))), F.lit(0))
                .cast("bigint")
                .alias("token_yield"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "min_words",
        "n_kept",
        "token_yield",
        F.round(F.try_divide(F.col("n_kept"), F.lit(n_docs)), 6).alias(
            "keep_rate"
        ),
    ).orderBy("min_words")


def _qts_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.llm import curation, text

    en = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
    normc = r"trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))"
    toks = (
        f"CASE WHEN {normc} = '' THEN []::VARCHAR[] "
        f"ELSE string_split({normc}, ' ') END"
    )
    per_t = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS BIGINT) AS min_words,
       CAST(COALESCE(SUM(CASE WHEN other_ok AND n_words >= {t}
                          AND n_words <= {curation.QF_MAX_WORDS}
                         THEN 1 END), 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN other_ok AND n_words >= {t}
                          AND n_words <= {curation.QF_MAX_WORDS}
                         THEN n_words END), 0) AS BIGINT) AS token_yield,
       ROUND(COALESCE(SUM(CASE WHEN other_ok AND n_words >= {t}
                           AND n_words <= {curation.QF_MAX_WORDS}
                          THEN 1 END), 0)
             / NULLIF((SELECT COUNT(*) FROM documents), 0), 6) AS keep_rate
FROM feats"""
        for t in _QTS_MIN_WORDS
    )
    return rf"""
WITH base AS (
  SELECT doc_id, {toks} AS w FROM documents
),
core AS (
  SELECT doc_id, w,
    len(w) AS n_words,
    CASE WHEN len(w) > 0
         THEN ROUND(length(array_to_string(w, '')) / len(w), 6)
         ELSE 0.0 END AS avg_word_len,
    CASE WHEN len(w) > 0
         THEN ROUND(len(list_filter(w, t -> t IN ({en}))) / len(w), 6)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN len(w) > 1
         THEN ROUND(1 - len(list_distinct(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1]))) / (len(w) - 1), 6)
         ELSE 0.0 END AS dup_bigram_frac
  FROM base
),
top AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top_word_frac FROM (
    SELECT doc_id, term, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(w) AS term FROM base) GROUP BY 1, 2
  ) GROUP BY doc_id
),
feats AS (
  SELECT core.doc_id, n_words,
    (avg_word_len >= {curation.QF_MIN_AVG_WORD_LEN!r}
     AND avg_word_len <= {curation.QF_MAX_AVG_WORD_LEN!r}
     AND COALESCE(top_word_frac, 0.0) <= {curation.QF_MAX_TOP_WORD_FRAC!r}
     AND dup_bigram_frac <= {curation.QF_MAX_DUP_BIGRAM_FRAC!r}
     AND stopword_ratio >= {curation.QF_MIN_STOPWORD_RATIO!r}) AS other_ok
  FROM core LEFT JOIN top ON core.doc_id = top.doc_id
)
{per_t}
ORDER BY min_words
"""


QUERIES["quality_threshold_sweep_documents"] = (
    quality_threshold_sweep_documents
)
ORACLES["quality_threshold_sweep_documents"] = _qts_sql()


# === Continuous replication: CDF subscription -> replica sink ===================


def streaming_replication_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS TABLE REPLICATION, the full Delta-mirror composition:
    the upstream table commits an upsert (bump key%5, insert -1) and a
    DEFERRED delete (key%7, and -1), and a replica — starting from the
    version-0 snapshot — converges by draining the ``table_changes``
    subscription through ``streaming/replication.replication_sink``
    (deletes as key-targeted bucket-pruned delete_where, images as an
    incoming-wins upsert, the batch marker on the LAST commit so the
    two-commit apply is exactly-once under any crash point).  The
    audit pins replica == upstream row-for-row (NULL-safe full diff)
    plus the replica's stream watermark having advanced.

    Scale: the mirror's cost per batch is O(changed rows) on both
    sides — the source diffs only changed buckets, the sink rewrites
    only touched buckets; keeping the copy never scans either table."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream
    from nasa_asteroid_data_lakehouse_spark.streaming.lakehouse import (
        stream_batch_watermark,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import drain
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        replication_sink,
    )

    cdf_stream.register(spark)
    base = _orders_base(spark, sf_dir)
    synthetic = spark.createDataFrame(
        [(-1, -1)], "o_orderkey bigint, cents bigint"
    )

    with query_scratch("ndl_repl_", sf_dir, "orders") as tmp:
        src = VersionedTable(spark, f"{tmp}/src", num_buckets=8)
        src.create(base, keys=["o_orderkey"])
        src.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        src.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        rep = VersionedTable(spark, f"{tmp}/rep", num_buckets=8)
        rep.create(src.read(version=0), keys=["o_orderkey"])
        feed = (
            spark.readStream.format("table_changes")
            .option("path", src.root)
            .option("starting_version", 1)
            .load()
        )
        # Shuffle partitions for the per-batch apply are sized from the
        # source table's data, an upper bound on any batch's feed.
        sink = replication_sink(
            feed, rep, keys=["o_orderkey"], checkpoint_dir=f"{tmp}/ck"
        )
        drain(spark, sink, src.root)
        got, want = rep.read(), src.read()
        mismatch = _row_set_mismatch(got, want, ["o_orderkey", "cents"])
        wm_advanced = 1 if stream_batch_watermark(rep, "replication") >= 0 else 0
        agg = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        out = spark.createDataFrame(
            [(int(agg["n"]), int(agg["s"]), int(mismatch), int(wm_advanced))],
            "n_rows bigint, cents_sum bigint, n_mismatch bigint, "
            "watermark_advanced bigint",
        )
        return out.localCheckpoint(eager=True)


STREAMING_REPLICATION_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key,
         cents + CASE WHEN key % 5 = 0 THEN 1000 ELSE 0 END AS cents
  FROM base
  WHERE NOT (key % 7 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(1 AS BIGINT) AS watermark_advanced
FROM final
"""

QUERIES["streaming_replication_orders"] = streaming_replication_orders
ORACLES["streaming_replication_orders"] = STREAMING_REPLICATION_SQL


# === Sessionization gap sweep ===================================================

_SGS_GAPS = (15, 30, 60, 120)  # minutes


def session_gap_sweep_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZATION tuning sweep — the ninth knob table: session
    counts and mean session length as the inactivity gap moves
    (15/30/60/120 minutes; the registered session family holds 30
    fixed).  Small gaps shred visits into fragments, large gaps fuse
    separate visits — this is the table an events pipeline reads
    before fixing its gap against the corpus's real inter-arrival
    distribution.

    ONE per-user lag pass serves every config: n_sessions(gap) =
    n_users + |consecutive diffs > gap|, so the expensive step (the
    user-partitioned ordered window) runs once and each gap is a
    conditional sum in the SAME single aggregate — the sweep costs one
    sessionization, not four.  Break counts are order-invariant under
    duplicate timestamps (lag over ORDER BY ts diffs the SORTED
    multiset, which tie order cannot change), and the strict
    ``diff > gap`` boundary matches the registered
    session_windows_events semantics.  Output: 4 rows."""
    from pyspark.sql import Window

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = ev.withColumn("prev", F.lag("ts").over(w))
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("prev").isNotNull()
                        & (
                            F.col("ts")
                            > F.col("prev") + F.expr(f"INTERVAL {g} MINUTES")
                        ),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"b{g}")
            for g in _SGS_GAPS
        ],
    )
    return (
        agg.select(
            "n_events",
            "n_users",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).cast("bigint").alias("gap_minutes"),
                            F.col(f"b{g}").alias("n_breaks"),
                        )
                        for g in _SGS_GAPS
                    ]
                )
            ).alias("t"),
        )
        .select(
            F.col("t.gap_minutes").alias("gap_minutes"),
            (F.col("n_users") + F.col("t.n_breaks"))
            .cast("bigint")
            .alias("n_sessions"),
            F.col("t.n_breaks").alias("n_breaks"),
            F.round(
                F.try_divide(
                    F.col("n_events"), F.col("n_users") + F.col("t.n_breaks")
                ),
                6,
            ).alias("mean_events_per_session"),
        )
        .orderBy("gap_minutes")
    )


def _sgs_sql() -> str:
    sums = ",\n    ".join(
        f"""COALESCE(SUM(CASE WHEN prev IS NOT NULL
             AND ts - prev > INTERVAL {g} MINUTE THEN 1 ELSE 0 END), 0) AS b{g}"""
        for g in _SGS_GAPS
    )
    per_gap = "\nUNION ALL\n".join(
        f"""SELECT CAST({g} AS BIGINT) AS gap_minutes,
       CAST(n_users + b{g} AS BIGINT) AS n_sessions,
       CAST(b{g} AS BIGINT) AS n_breaks,
       ROUND(n_events / NULLIF(n_users + b{g}, 0), 6)
         AS mean_events_per_session
FROM a"""
        for g in _SGS_GAPS
    )
    return f"""
WITH e AS (
  SELECT user_id, ts::TIMESTAMP AS ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
l AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM e
),
a AS (
  SELECT COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
    {sums}
  FROM l
)
{per_gap}
ORDER BY gap_minutes
"""


QUERIES["session_gap_sweep_events"] = session_gap_sweep_events
ORACLES["session_gap_sweep_events"] = _sgs_sql()
