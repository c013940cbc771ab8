"""Round-11 staged batch (gate-verified behind ``driver_sim --staged``;
registered by flipping ``REGISTER_R11`` in ``__spark_entry__`` at
round-11 start, after CORRECTNESS_r10 lands).

Families (VERDICT r09 "next round" asks #3/#4 + natural continuations):

* **Replication across REBUCKET** — the bucket space changes mid-feed.
  The fix this batch proves: maintenance commits (compact / optimize /
  rebucket) carry Delta's ``data_change=false`` and the change feed
  SKIPS them — without the skip the stream's name-paired bucket diff
  is actively wrong across a rebucket (false delete/insert pairs at
  one ``_commit_version``; a replica's latest-per-key pick between the
  pair is arbitrary and can drop rows).
* **Maintenance CDF census** — per-commit emitted-row counts across a
  lifecycle spanning every operation type, pinning which commits are
  data changes (upsert / delete) and which are invisible to the feed
  (compact / optimize / rebucket).
* **Transactions × deletion vectors** — a multi-table transactional
  snapshot taken across a deferred-delete commit: the pinned read
  applies the DVs OF THE PINNED VERSION, unaffected by later vectors.
* **Upsert schema merge** — Delta's ``mergeSchema`` on MERGE: an
  incoming batch carrying a new column widens the table in the same
  upsert commit; untouched buckets keep their narrow files and read
  the new column as NULL (parquet mergeSchema), rows missing in the
  incoming keep their values.
* **Schema evolution mid-subscription** — a ``table_changes``
  subscription whose checkpoint lineage spans an ``overwrite()``
  drop/add commit: each drained batch projects onto the source schema
  pinned at ITS query start (Delta restarts streams on schema change;
  this source re-pins at restart and the replica follows through the
  apply algebra — dropped columns null out, added columns arrive).
* **Repetition quality census** — the Gopher/MassiveText duplicate
  n-gram signals as a corpus census: per-document duplicate 2-/3-gram
  fractions on an integer lattice, the table a quality gate reads
  before fixing its repetition thresholds.
* **SemDeDup clustering** — Lloyd-iterated k-means over the embedding
  corpus (lowest-id seeds, lattice-rounded centroid updates every
  iteration): the clustering step of semantic deduplication,
  driver-checked through real iterations for the first time.
* **Sliding-window streaming replay** — overlapping 2h/30min windows
  under append-mode watermark emission (a window emits iff its END has
  been passed, non-strict — pinned empirically), the window shape the
  registered tumbling rollups cannot see.
* **Vacuum boundary of the change feed** — fail-closed, never silently
  partial: a feed range needing a vacuumed manifest raises a clear
  driver-side error naming the earliest answerable version; reads
  inside the surviving window answer exactly.
* **Clone-bootstrap replication** — the Delta mirror recipe (SHALLOW
  CLONE a snapshot, APPLY CHANGES from the next version): O(1)
  zero-copy bootstrap, steady-state O(changed buckets).

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, COALESCE(...,0) on empty-input sums, payloads KEY-DERIVED,
synthetic keys negative and the real keyspace filtered to >= 0 on both
sides, float outputs on a fixed lattice with single final divisions,
iterative centroids lattice-rounded and materialized EVERY iteration
on both engines.

No reference analog for any of these: the reference (``src/etl/*.py``)
is a daily batch ETL with no manifest log, no streams, no clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.plans.r10_queries import (
    _row_set_mismatch,
)
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch

STAGED_QUERIES: dict = {}
STAGED_ORACLES: dict = {}


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same lake-lifecycle fixture as the r10 batch: key-derived
    payloads, keyspace >= 0 so synthetic negative keys stay disjoint."""
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


# === Replication across a rebucket commit ======================================


def replication_across_rebucket_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINUOUS REPLICATION ACROSS A BUCKET-SPACE CHANGE (VERDICT r09
    ask #3b): the upstream commits upsert -> REBUCKET(8 -> 16) ->
    deferred delete -> upsert, and a replica drains the
    ``table_changes`` subscription through the whole chain.  The
    rebucket commit carries ``data_change=false`` and emits ZERO feed
    rows (pinned by the ``rebucket_emitted`` column, from a batch read
    of exactly that version) — without the skip the name-paired bucket
    diff would manufacture a false delete + insert per moved key at
    one ``_commit_version`` and the replica's latest-per-key pick
    between the pair could drop the row.  Post-rebucket commits diff
    in the NEW bucket space against their immediate parent, so the
    feed stays O(changed buckets) on both sides of the spec change.

    Scale: a rebucket of a 100 TB table is one (deliberate, scheduled)
    full rewrite upstream — the mirror pays nothing for it."""
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

    with query_scratch("ndl_rrb_", sf_dir, "orders") as tmp:
        src = VersionedTable(spark, f"{tmp}/src", num_buckets=8)
        src.create(base, keys=["o_orderkey"])
        src.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        v_rebucket = src.rebucket(16)
        src.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        src.upsert(
            base.where(
                (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0)
            ).select("o_orderkey", (F.col("cents") + 7).alias("cents"))
        )
        rep = VersionedTable(spark, f"{tmp}/rep", num_buckets=8)
        rep.create(src.read(version=0), keys=["o_orderkey"])
        feed = (
            spark.readStream.format("table_changes")
            .option("path", src.root)
            .option("starting_version", 1)
            .load()
        )
        sink = replication_sink(
            feed, rep, keys=["o_orderkey"], checkpoint_dir=f"{tmp}/ck"
        )
        drain(spark, sink, src.root)
        rebucket_emitted = (
            spark.read.format("table_changes")
            .option("path", src.root)
            .option("from_version", v_rebucket - 1)
            .option("to_version", v_rebucket)
            .load()
            .count()
        )
        got, want = rep.read(), src.read()
        mismatch = _row_set_mismatch(got, want, ["o_orderkey", "cents"])
        wm_advanced = 1 if stream_batch_watermark(rep, "replication") >= 0 else 0
        agg = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("s"),
        ).first()
        out = spark.createDataFrame(
            [
                (
                    int(agg["n"]),
                    int(agg["s"]),
                    int(mismatch),
                    int(rebucket_emitted),
                    int(wm_advanced),
                )
            ],
            "n_rows bigint, cents_sum bigint, n_mismatch bigint, "
            "rebucket_emitted bigint, watermark_advanced bigint",
        )
        return out.localCheckpoint(eager=True)


REPLICATION_ACROSS_REBUCKET_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key,
         CASE
           WHEN key % 11 = 0 THEN cents + 7
           WHEN key % 5 = 0 THEN cents + 1000
           ELSE cents
         END AS cents
  FROM base
  WHERE NOT (key % 7 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(0 AS BIGINT) AS rebucket_emitted,
       CAST(1 AS BIGINT) AS watermark_advanced
FROM final
"""

STAGED_QUERIES["replication_across_rebucket_orders"] = (
    replication_across_rebucket_orders
)
STAGED_ORACLES["replication_across_rebucket_orders"] = (
    REPLICATION_ACROSS_REBUCKET_SQL
)


# === Maintenance CDF census =====================================================


def maintenance_cdf_skip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COMMIT CHANGE-FEED CENSUS across every operation type: a
    lifecycle of create -> upsert -> compact -> deferred delete ->
    optimize -> rebucket -> upsert, batch-read through
    ``table_changes`` and counted per commit version.  Pins the
    ``data_change`` contract end to end: upsert and delete commits
    emit exactly their changed rows; compact / optimize / rebucket —
    file rewrites with identical logical content — emit ZERO (Delta's
    dataChange=false).  A downstream consumer can therefore schedule
    maintenance freely without flooding (or corrupting) its mirrors.

    Scale: the census costs the feed itself — O(changed buckets) per
    data commit, O(0) per maintenance commit (the planner skips them
    without reading a byte)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream

    cdf_stream.register(spark)
    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_mcen_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, f"{tmp}/t", num_buckets=8)
        t.create(base, keys=["o_orderkey"])

        # planned lifecycle SLOTS: an op that no-ops on a degenerate
        # input (compact with nothing to compact, delete matching zero
        # keys) commits no version — its slot still reports 0 feed
        # rows, so the output shape is input-independent.
        slots: list[tuple[int, str, int | None]] = []

        def step(slot: int, op: str, fn) -> None:
            before = t.latest_version()
            after = fn()
            slots.append((slot, op, after if after != before else None))

        step(
            1,
            "upsert",
            lambda: t.upsert(
                base.where(F.col("o_orderkey") % 5 == 0).select(
                    "o_orderkey", (F.col("cents") + 1000).alias("cents")
                )
            ),
        )
        step(2, "compact", lambda: t.compact(target_files_per_bucket=0))
        step(
            3,
            "delete_deferred",
            lambda: t.delete_where(
                (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0),
                deferred=True,
            ),
        )
        step(
            4,
            "optimize",
            lambda: t.optimize(zorder_by=["cents"], files_per_bucket=2),
        )
        step(5, "rebucket", lambda: t.rebucket(16))
        step(
            6,
            "upsert",
            lambda: t.upsert(
                base.where(
                    (F.col("o_orderkey") % 11 == 0)
                    & (F.col("o_orderkey") % 7 != 0)
                ).select("o_orderkey", (F.col("cents") + 7).alias("cents"))
            ),
        )
        feed = (
            spark.read.format("table_changes")
            .option("path", t.root)
            .option("from_version", 0)
            .load()
        )
        counts = {
            int(r["v"]): int(r["n"])
            for r in feed.groupBy(F.col("_commit_version").alias("v"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }  # bounded: <= number of lifecycle commits (<= 6)
        out = spark.createDataFrame(
            [
                (slot, op, counts.get(v, 0) if v is not None else 0)
                for slot, op, v in slots
            ],
            "slot bigint, operation string, n_rows bigint",
        )
        return out.orderBy("slot").localCheckpoint(eager=True)


MAINTENANCE_CDF_SKIP_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
counts AS (
  SELECT
    (SELECT COUNT(*) FROM base WHERE key % 5 = 0) AS n_upsert1,
    (SELECT COUNT(*) FROM base WHERE key % 7 = 0) AS n_delete,
    (SELECT COUNT(*) FROM base WHERE key % 11 = 0 AND key % 7 <> 0)
      AS n_upsert2
)
SELECT CAST(slot AS BIGINT) AS slot,
       operation,
       CAST(CASE slot
              WHEN 1 THEN n_upsert1
              WHEN 3 THEN n_delete
              WHEN 6 THEN n_upsert2
              ELSE 0
            END AS BIGINT) AS n_rows
FROM counts, (VALUES
  (1, 'upsert'), (2, 'compact'), (3, 'delete_deferred'),
  (4, 'optimize'), (5, 'rebucket'), (6, 'upsert')
) AS v(slot, operation)
ORDER BY slot
"""

STAGED_QUERIES["maintenance_cdf_skip_orders"] = maintenance_cdf_skip_orders
STAGED_ORACLES["maintenance_cdf_skip_orders"] = MAINTENANCE_CDF_SKIP_SQL


# === Transactions x deletion vectors ===========================================


def txn_snapshot_across_dv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE TRANSACTIONAL SNAPSHOT ACROSS DEFERRED-DELETE
    COMMITS (VERDICT r09 ask #4): the transaction manifest pins
    ``{fact: v, dim: v}``; a deferred delete on the fact table commits
    BETWEEN two transaction pins, and a second deferred delete lands
    AFTER the last pin (an orphan no transaction ever exposes).  The
    pinned reads apply exactly the deletion vectors of the pinned
    versions — txn 0 sees no deletes, txn 1 sees the first delete's
    vectors, and the post-pin vector is invisible to both while the
    head read honors it.  The cross-table audit joins fact-at-txn-1 to
    dim-at-txn-1 and checks the per-group totals reconcile — the
    consistent-snapshot property the reference's four-table gold
    rewrite lacks (``src/etl/silver_to_gold.py:153-167``).

    Scale: a transaction pin is one JSON write; the DV reads stay
    O(scanned buckets) with a broadcast-sized anti-join — pinning adds
    zero data I/O."""
    from nasa_asteroid_data_lakehouse_spark.lake.transaction import (
        MultiTableTransaction,
    )

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_txdv_", sf_dir, "orders") as tmp:
        txn = MultiTableTransaction(spark, tmp, num_buckets=8)
        fact = txn.table("fact")
        dim = txn.table("dim")
        dim_df = (
            base.select((F.col("o_orderkey") % 100).alias("grp"))
            .distinct()
            .select("grp", (F.col("grp") * 10).alias("weight"))
        )
        v_f0 = fact.create(base, keys=["o_orderkey"])
        v_d0 = dim.create(dim_df, keys=["grp"])
        txn.commit({"fact": v_f0, "dim": v_d0})  # txn 0
        v_f1 = fact.delete_where(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )
        v_d1 = dim.upsert(
            dim_df.where(F.col("grp") % 2 == 0).select(
                "grp", (F.col("weight") + 5).alias("weight")
            )
        )
        txn.commit({"fact": v_f1, "dim": v_d1})  # txn 1
        fact.delete_where(
            (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )  # post-pin orphan: no transaction exposes it
        f0 = txn.read("fact", txn_id=0)
        f1 = txn.read("fact", txn_id=1)
        d1 = txn.read("dim", txn_id=1)
        f_head = fact.read()
        joined = f1.join(
            d1, f1["o_orderkey"] % 100 == d1["grp"], "inner"
        ).agg(
            F.coalesce(F.sum(d1["weight"]), F.lit(0))
            .cast("bigint")
            .alias("w")
        )
        out = spark.createDataFrame(
            [
                (
                    int(f0.count()),
                    int(f1.count()),
                    int(f_head.count()),
                    int(joined.first()["w"]),
                )
            ],
            "n_fact_txn0 bigint, n_fact_txn1 bigint, n_fact_head bigint, "
            "joined_weight_sum bigint",
        )
        return out.localCheckpoint(eager=True)


TXN_SNAPSHOT_ACROSS_DV_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
dim AS (
  SELECT grp, grp * 10
         + CASE WHEN grp % 2 = 0 THEN 5 ELSE 0 END AS weight
  FROM (SELECT DISTINCT key % 100 AS grp FROM base)
),
f1 AS (SELECT * FROM base WHERE NOT (key % 3 = 0))
SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_fact_txn0,
       CAST((SELECT COUNT(*) FROM f1) AS BIGINT) AS n_fact_txn1,
       CAST((SELECT COUNT(*) FROM f1 WHERE NOT (key % 5 = 0)) AS BIGINT)
         AS n_fact_head,
       CAST(COALESCE((
         SELECT SUM(dim.weight) FROM f1 JOIN dim ON f1.key % 100 = dim.grp
       ), 0) AS BIGINT) AS joined_weight_sum
"""

STAGED_QUERIES["txn_snapshot_across_dv_orders"] = txn_snapshot_across_dv_orders
STAGED_ORACLES["txn_snapshot_across_dv_orders"] = TXN_SNAPSHOT_ACROSS_DV_SQL


# === Upsert schema merge ========================================================


def upsert_schema_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT SCHEMA EVOLUTION (Delta ``mergeSchema`` on MERGE): the
    first incoming batch carries a NEW column (``flag``) — the table
    widens in the same upsert commit; untouched buckets keep their
    narrow files and read the new column as NULL (parquet mergeSchema
    on every multi-file read).  The second batch arrives MISSING the
    ``cents`` column — under this engine's documented full-row-
    replacement semantics (incoming wins per key, ``operators/merge``)
    the replaced rows read cents as NULL; rows not in the batch keep
    their values.  No table rewrite at any point: only touched buckets
    pay, exactly like a same-schema upsert.

    Scale: schema evolution is metadata + the touched buckets' rewrite
    — the 100 TB table's untouched files are never opened, and every
    later scan merges the schemas from parquet footers alone."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_usm_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, f"{tmp}/t", num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.upsert(
            base.where(F.col("o_orderkey") % 9 == 0).select(
                "o_orderkey",
                (F.col("cents") + 3).alias("cents"),
                (F.col("o_orderkey") % 4).alias("flag"),
            )
        )
        t.upsert(
            base.where(F.col("o_orderkey") % 13 == 0).select(
                "o_orderkey",
                (F.col("o_orderkey") % 4 + 10).alias("flag"),
            )
        )
        got = t.read()
        agg = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("cents").isNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_cents_null"),
            F.coalesce(F.sum(F.when(F.col("flag").isNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_flag_null"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
            F.coalesce(F.sum("flag"), F.lit(0)).cast("bigint").alias("flag_sum"),
        )
        return agg.localCheckpoint(eager=True)


UPSERT_SCHEMA_MERGE_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key,
         CASE
           WHEN key % 13 = 0 THEN NULL
           WHEN key % 9 = 0 THEN cents + 3
           ELSE cents
         END AS cents,
         CASE
           WHEN key % 13 = 0 THEN key % 4 + 10
           WHEN key % 9 = 0 THEN key % 4
           ELSE NULL
         END AS flag
  FROM base
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN cents IS NULL THEN 1 END), 0) AS BIGINT)
         AS n_cents_null,
       CAST(COALESCE(SUM(CASE WHEN flag IS NULL THEN 1 END), 0) AS BIGINT)
         AS n_flag_null,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(COALESCE(SUM(flag), 0) AS BIGINT) AS flag_sum
FROM final
"""

STAGED_QUERIES["upsert_schema_merge_orders"] = upsert_schema_merge_orders
STAGED_ORACLES["upsert_schema_merge_orders"] = UPSERT_SCHEMA_MERGE_SQL


# === Schema evolution mid-subscription ==========================================


def cdf_schema_evolution_subscription_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCHEMA EVOLUTION ACROSS A LIVE SUBSCRIPTION (VERDICT r09 ask
    #3a): a ``table_changes`` checkpoint lineage spans an
    ``overwrite()`` commit that DROPS ``cents`` and ADDS ``flag``.
    Delta's CDF stream fails on such a commit and restarts with the
    new schema; this source has the same re-pin-at-restart contract —
    drain 1 projects its commits onto the old schema, the evolution
    lands, drain 2 (SAME checkpoint, resumed offsets) re-pins onto the
    new head schema and replays from where drain 1 stopped.  The
    replica follows through the apply algebra + upsert schema merge:
    keys the overwrite dropped arrive as deletes, surviving keys as
    updates whose images null the dropped column out and carry the
    added one, and a post-evolution insert flows through untouched.
    The audit pins replica == upstream on the evolved columns
    (NULL-safe full diff) and every replica row's ``cents`` NULL.

    Scale: the overwrite commit diffs O(all buckets) — it IS a full
    snapshot change; the later commits go back to O(changed buckets)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import drain
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        replication_sink,
    )

    cdf_stream.register(spark)
    base = _orders_base(spark, sf_dir)

    with query_scratch("ndl_sevo_", sf_dir, "orders") as tmp:
        src = VersionedTable(spark, f"{tmp}/src", num_buckets=8)
        src.create(base, keys=["o_orderkey"])
        src.upsert(
            base.where(F.col("o_orderkey") % 5 == 0).select(
                "o_orderkey", (F.col("cents") + 1000).alias("cents")
            )
        )
        rep = VersionedTable(spark, f"{tmp}/rep", num_buckets=8)
        rep.create(src.read(version=0), keys=["o_orderkey"])

        def catch_up():
            feed = (
                spark.readStream.format("table_changes")
                .option("path", src.root)
                .option("starting_version", 1)
                .load()
            )
            sink = replication_sink(
                feed, rep, keys=["o_orderkey"], checkpoint_dir=f"{tmp}/ck"
            )
            drain(spark, sink, src.root)

        catch_up()  # old schema: covers the upsert
        src.overwrite(
            base.where(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey", (F.col("o_orderkey") % 3).alias("flag")
            )
        )
        src.upsert(
            spark.createDataFrame([(-5, 9)], "o_orderkey bigint, flag bigint")
        )
        catch_up()  # same checkpoint, re-pinned onto the evolved schema
        got, want = rep.read(), src.read()
        mismatch = _row_set_mismatch(got, want, ["o_orderkey", "flag"])
        agg = got.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("flag"), F.lit(0)).cast("bigint").alias("fs"),
            F.coalesce(F.sum(F.when(F.col("cents").isNull(), 1)), F.lit(0))
            .cast("bigint")
            .alias("cn"),
        ).first()
        out = spark.createDataFrame(
            [(int(agg["n"]), int(agg["fs"]), int(agg["cn"]), int(mismatch))],
            "n_rows bigint, flag_sum bigint, n_cents_null bigint, "
            "n_mismatch bigint",
        )
        return out.localCheckpoint(eager=True)


CDF_SCHEMA_EVOLUTION_SUBSCRIPTION_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key, key % 3 AS flag FROM base WHERE key % 2 = 0
  UNION ALL
  SELECT -5 AS key, 9 AS flag
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(flag), 0) AS BIGINT) AS flag_sum,
       CAST(COUNT(*) AS BIGINT) AS n_cents_null,
       CAST(0 AS BIGINT) AS n_mismatch
FROM final
"""

STAGED_QUERIES["cdf_schema_evolution_subscription_orders"] = (
    cdf_schema_evolution_subscription_orders
)
STAGED_ORACLES["cdf_schema_evolution_subscription_orders"] = (
    CDF_SCHEMA_EVOLUTION_SUBSCRIPTION_SQL
)


# === Gopher repetition census ===================================================

_GRC_NS = (2, 3)


def gopher_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION QUALITY CENSUS — the Gopher/MassiveText duplicate
    n-gram signals (Rae et al. 2021, table A1) as a corpus table:
    per-document duplicate-2-gram and duplicate-3-gram fractions,
    bucketed on a 0..10 integer lattice (``(10*(total-distinct)) DIV
    total`` — pure integer arithmetic, no float division anywhere), the
    histogram a quality gate reads before fixing its repetition
    thresholds (MassiveText drops docs whose duplicate-n-gram fraction
    exceeds rule-specific cutoffs; this table prices each cutoff).

    ONE tokenization serves both n (the decontamination-sweep
    discipline): the token array materializes once, both shingle
    sequences derive from it in the same projection, and the duplicate
    counts are row-local ``size(array_distinct(...))`` — NO shuffle at
    all until the final tiny groupBy on (n, bucket).  Documents
    shorter than n words carry no n-gram signal and are excluded on
    both sides.  Output: <= 22 rows."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup
    from nasa_asteroid_data_lakehouse_spark.llm.text import (
        normalized_text,
        tokens,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        "text",
        tokens(normalized_text("text")).alias("words"),
    )
    per_n = toks.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).cast("bigint").alias("n"),
                        F.size(
                            F.array_distinct(
                                dedup.word_shingle_sequence("text", n)
                            )
                        )
                        .cast("bigint")
                        .alias("n_distinct"),
                    )
                    for n in _GRC_NS
                ]
            )
        ).alias("t"),
    ).select(
        "doc_id",
        F.col("t.n").alias("n"),
        (F.col("n_words") - F.col("t.n") + 1).alias("n_total"),
        F.col("t.n_distinct").alias("n_distinct"),
    ).where(F.col("n_words") >= F.col("n"))
    out = (
        per_n.select(
            "n",
            "n_total",
            "n_distinct",
            F.expr("(10 * (n_total - n_distinct)) DIV n_total").alias("bucket"),
        )
        .groupBy("n", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.col("n_total") - F.col("n_distinct")), F.lit(0))
            .cast("bigint")
            .alias("dup_ngrams"),
        )
        .orderBy("n", "bucket")
    )
    return out


def _grc_sql() -> str:
    norm = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
    per_n = "\nUNION ALL\n".join(
        f"""SELECT doc_id, CAST({n} AS BIGINT) AS n,
       CAST(len(words) - {n} + 1 AS BIGINT) AS n_total,
       CAST(len(list_distinct(list_transform(
              range(1, len(words) - {n - 2}),
              j -> array_to_string(words[j:j+{n - 1}], ' ')))) AS BIGINT)
         AS n_distinct
FROM w WHERE len(words) >= {n}"""
        for n in _GRC_NS
    )
    return rf"""
WITH w AS (SELECT doc_id, string_split({norm}, ' ') AS words
           FROM documents),
per_n AS ({per_n})
SELECT n, (10 * (n_total - n_distinct)) // n_total AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(n_total - n_distinct), 0) AS BIGINT) AS dup_ngrams
FROM per_n
GROUP BY n, bucket
ORDER BY n, bucket
"""


STAGED_QUERIES["gopher_repetition_documents"] = gopher_repetition_documents
STAGED_ORACLES["gopher_repetition_documents"] = _grc_sql()


# === Lloyd-iterated k-means (SemDeDup's clustering step) ========================

_KML_K = 8
_KML_ITERS = 2


def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLOYD-ITERATED K-MEANS over the embedding corpus — the
    clustering step of semantic dedup (SemDeDup, Abbas et al. 2023)
    driver-checked through real iterations (the registered IVF family
    holds centroids at their iteration-0 seeds; ``kmeans_fit``'s Lloyd
    loop itself was pytest-only until now).  Seeds are the k lowest
    vec_ids with a valid vector; each iteration assigns every vector
    to its nearest centroid (argmin over k squared distances — a pure
    broadcast projection, NO shuffle) and recomputes centroids via
    posexplode + groupBy(cluster, dim) mean, LATTICE-ROUNDED to 1e-6
    via the portable ``floor(x*1e6 + 0.5)`` snap every iteration so
    reduction-order noise cannot compound (the PCA power-iteration
    rule); empty clusters keep their previous centroid.  The audit
    emits per-cluster membership and the total squared distance to the
    final centroids in exact integer micro-units (per-vector snap,
    BIGINT sum — order-free).

    Scale: per iteration ONE narrow projection over the corpus plus a
    k*d-bounded aggregate to the driver; the quadratic step of
    SemDeDup stays per-cluster downstream (semantic_dedup, registered)
    and never appears here.  Output: k rows."""
    import math

    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    valid = emb.where(similarity.vec_valid(F.col("embedding"))).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    seed_rows = valid.orderBy("vec_id").limit(_KML_K).collect()
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    out_schema = (
        "cluster bigint, n_members bigint, sqdist_micro_sum bigint"
    )
    if not centroids:
        return spark.createDataFrame([], out_schema)
    dim = len(centroids[0])

    def snap(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    for _ in range(_KML_ITERS):
        assigned = similarity.with_ivf_assignment(valid, centroids, "v")
        means = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )  # bounded k*d driver result, the kmeans_fit contract
        by: dict = {}
        for r in means:
            by.setdefault(int(r["cluster"]), {})[int(r["dim"])] = float(r["m"])
        centroids = [
            [snap(by[c][d]) for d in range(dim)] if c in by else centroids[c]
            for c in range(len(centroids))
        ]
    assigned = similarity.with_ivf_assignment(valid, centroids, "v")
    sq = F.array(*[similarity._sq_dist(F.col("v"), c) for c in centroids])
    scored = assigned.select(
        "cluster",
        F.floor(
            F.element_at(sq, F.col("cluster").cast("int") + 1) * 1e6 + 0.5
        )
        .cast("bigint")
        .alias("micro"),
    )
    agg = scored.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.coalesce(F.sum("micro"), F.lit(0))
        .cast("bigint")
        .alias("sqdist_micro_sum"),
    )
    grid = spark.createDataFrame(
        [(c,) for c in range(len(centroids))], "cluster bigint"
    )
    return (
        grid.join(agg.withColumn("cluster", F.col("cluster").cast("bigint")), "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n_members"), F.lit(0))
            .cast("bigint")
            .alias("n_members"),
            F.coalesce(F.col("sqdist_micro_sum"), F.lit(0))
            .cast("bigint")
            .alias("sqdist_micro_sum"),
        )
        .orderBy("cluster")
    )


def _kml_sql() -> str:
    valid = (
        "embedding IS NOT NULL AND len(list_filter(embedding, "
        "x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
    )
    iters = []
    prev = "cent0"
    for i in range(_KML_ITERS):
        iters.append(f"""assign{i} AS MATERIALIZED (
  SELECT vec_id, ev, c FROM (
    SELECT e.vec_id, e.ev, s.c,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_distance(e.ev, s.cv), s.c) AS rn
    FROM valid e, {prev} s
  ) WHERE rn = 1
),
means{i} AS MATERIALIZED (
  SELECT c, dim, avg(val) AS av FROM (
    SELECT c, generate_subscripts(ev, 1) AS dim, unnest(ev) AS val
    FROM assign{i}
  ) GROUP BY c, dim
),
cent{i + 1} AS MATERIALIZED (
  SELECT s.c, COALESCE(m.mv, s.cv) AS cv
  FROM {prev} s LEFT JOIN (
    SELECT c, list(floor(av * 1e6 + 0.5) / 1e6 ORDER BY dim) AS mv
    FROM means{i} GROUP BY c
  ) m ON s.c = m.c
)""")
        prev = f"cent{i + 1}"
    body = ",\n".join(iters)
    return f"""
WITH valid AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE {valid}
),
cent0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, ev AS cv
  FROM valid ORDER BY vec_id LIMIT {_KML_K}
),
{body},
final AS (
  SELECT vec_id, ev, c FROM (
    SELECT e.vec_id, e.ev, s.c,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_distance(e.ev, s.cv), s.c) AS rn
    FROM valid e, {prev} s
  ) WHERE rn = 1
),
scored AS (
  SELECT f.c,
    CAST(floor(list_sum(list_transform(range(1, len(f.ev) + 1),
      i -> (f.ev[i] - s.cv[i]) * (f.ev[i] - s.cv[i]))) * 1e6 + 0.5)
      AS BIGINT) AS micro
  FROM final f JOIN {prev} s ON f.c = s.c
)
SELECT CAST(g.c AS BIGINT) AS cluster,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_members,
       CAST(COALESCE(a.s, 0) AS BIGINT) AS sqdist_micro_sum
FROM cent0 g LEFT JOIN (
  SELECT c, COUNT(*) AS n, SUM(micro) AS s FROM scored GROUP BY c
) a ON g.c = a.c
ORDER BY cluster
"""


STAGED_QUERIES["kmeans_lloyd_embeddings"] = kmeans_lloyd_embeddings
STAGED_ORACLES["kmeans_lloyd_embeddings"] = _kml_sql()


# === Sliding-window streaming replay ============================================

_SWR_WINDOW_S = 7200  # 2 hours
_SWR_SLIDE_S = 1800  # 30 minutes


def streaming_sliding_window_replay_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SLIDING-WINDOW streaming aggregation replay — the overlapping-
    window semantics the registered tumbling rollups cannot see: every
    event contributes to window/slide = 4 overlapping 2-hour windows
    on a 30-minute lattice, and append mode only emits a window once
    the watermark passes its END (non-strict, ``end <= wm`` — pinned
    empirically in tests/test_r11_staged.py: a window whose end equals
    the final watermark DOES emit; stream-end windows the watermark
    never passes are suppressed).  Replayed as four TIME-QUARTILE
    ordered, mtime-pinned single-file batches under horizon 0 (the
    outer-join replay discipline), so no row is ever late and the
    final watermark is exactly the corpus max event time, which the
    oracle reproduces.

    Scale: state is bounded by (windows in the watermark horizon) x
    (group keys) — closed windows are evicted at emission; the shuffle
    key is (window, event_type), never a global window."""
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            "user_id",
        )
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.tuning import (
        write_time_quartile_batches,
    )

    with query_scratch("ndl_swr_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        # Same time-quartile mtime-pinned batches as before, written in
        # ONE job instead of four (streaming/tuning.py).
        write_time_quartile_batches(ev, src)
        agg = (
            file_stream(spark, ev, src)
            .withWatermark("ts", "0 seconds")
            .groupBy(
                F.window(
                    "ts", f"{_SWR_WINDOW_S} seconds", f"{_SWR_SLIDE_S} seconds"
                ).alias("w"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.coalesce(F.sum("user_id"), F.lit(0))
                .cast("bigint")
                .alias("user_sum"),
            )
        )
        got = drain_to_parquet(spark, agg, f"{tmp}/rows", src)
        return (
            got.select(
                F.col("w.start")
                .cast("timestamp_ntz")
                .alias("window_start"),
                "event_type",
                "n_events",
                "user_sum",
            )
            .orderBy("window_start", "event_type")
            .localCheckpoint(eager=True)
        )


STREAMING_SLIDING_WINDOW_SQL = f"""
WITH ev AS (
  SELECT ts, event_type, user_id FROM events WHERE ts IS NOT NULL
),
wm AS (SELECT MAX(ts) AS m FROM ev),
expanded AS (
  SELECT make_timestamp({_SWR_SLIDE_S}000000 *
           (epoch_us(ts) // {_SWR_SLIDE_S}000000 - j)) AS window_start,
         event_type, user_id
  FROM ev, (SELECT unnest(range({_SWR_WINDOW_S // _SWR_SLIDE_S})) AS j)
)
SELECT e.window_start, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(e.user_id), 0) AS BIGINT) AS user_sum
FROM expanded e, wm
WHERE e.window_start + INTERVAL {_SWR_WINDOW_S} SECOND <= wm.m
GROUP BY e.window_start, e.event_type
ORDER BY e.window_start, e.event_type
"""

STAGED_QUERIES["streaming_sliding_window_replay_events"] = (
    streaming_sliding_window_replay_events
)
STAGED_ORACLES["streaming_sliding_window_replay_events"] = (
    STREAMING_SLIDING_WINDOW_SQL
)


# === Vacuum boundary of the change feed =========================================


def cdf_vacuum_boundary_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM BOUNDARY of the change feed — fail-closed, never
    silently partial: after ``vacuum(keep_last=2)`` truncates the
    manifest log, a ``table_changes`` read that needs a vacuumed
    manifest raises a clear driver-side error naming the earliest
    answerable version (Delta's CDF behaves the same when
    startingVersion predates the earliest commit), while a read inside
    the surviving window answers exactly.  The ``truncated_raises``
    column pins the refusal; the audit columns pin the surviving
    window's feed (the v2 -> v3 diff: every key%11 upsert image, no
    phantom inserts).

    Scale: the boundary check is driver-side manifest existence — the
    refusal costs zero data I/O, and the answerable read stays
    O(changed buckets)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream

    cdf_stream.register(spark)
    base = _orders_base(spark, sf_dir)
    with query_scratch("ndl_vb_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, f"{tmp}/t", num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.upsert(
            base.where(F.col("o_orderkey") % 5 == 0).select(
                "o_orderkey", (F.col("cents") + 1000).alias("cents")
            )
        )
        t.delete_where(
            (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0),
            deferred=True,
        )  # may commit nothing when no key matches — use REAL versions
        v_final = t.upsert(
            base.where(
                (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0)
            ).select("o_orderkey", (F.col("cents") + 7).alias("cents"))
        )
        t.vacuum(keep_last=2)  # survivors: v_final-1, v_final
        truncated_raises = 0
        try:
            (
                spark.read.format("table_changes")
                .option("path", t.root)
                .option("from_version", 0)
                .load()
                .count()
            )
        except Exception as exc:  # noqa: BLE001 — the refusal contract
            if "vacuumed" in str(exc):
                truncated_raises = 1
        feed = (
            spark.read.format("table_changes")
            .option("path", t.root)
            .option("from_version", v_final - 1)
            .load()
        )
        agg = feed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("_change_type") == "update_postimage", 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("nu"),
            F.coalesce(
                F.sum(F.when(F.col("_change_type") == "insert", 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("ni"),
        ).first()
        out = spark.createDataFrame(
            [
                (
                    int(truncated_raises),
                    int(agg["n"]),
                    int(agg["nu"]),
                    int(agg["ni"]),
                )
            ],
            "truncated_raises bigint, n_feed_rows bigint, n_updates bigint, "
            "n_inserts bigint",
        )
        return out.localCheckpoint(eager=True)


CDF_VACUUM_BOUNDARY_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
touched AS (SELECT * FROM base WHERE key % 11 = 0 AND key % 7 <> 0)
SELECT CAST(1 AS BIGINT) AS truncated_raises,
       CAST((SELECT COUNT(*) FROM touched) AS BIGINT) AS n_feed_rows,
       CAST((SELECT COUNT(*) FROM touched) AS BIGINT) AS n_updates,
       CAST(0 AS BIGINT) AS n_inserts
"""

STAGED_QUERIES["cdf_vacuum_boundary_orders"] = cdf_vacuum_boundary_orders
STAGED_ORACLES["cdf_vacuum_boundary_orders"] = CDF_VACUUM_BOUNDARY_SQL


# === Clone-bootstrap replication ================================================


def clone_bootstrap_replication_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLONE-BOOTSTRAP REPLICATION — the standard Delta mirror recipe
    (SHALLOW CLONE a snapshot, then APPLY CHANGES from the next
    version): the replica bootstraps as an O(1) zero-copy clone of the
    source at v1 (ONE manifest write, no data movement — pinned by
    ``bootstrap_commits``), then follows the source's later commits
    (deferred delete, upsert) through the ``table_changes``
    subscription starting exactly at v2.  Versus snapshot-copy
    bootstrap (the registered streaming_replication shape), the clone
    path moves zero bytes up front — at 100 TB that is the difference
    between an instant mirror and a day-long backfill.

    Scale: bootstrap O(1); steady state O(changed buckets) per drained
    commit on both sides."""
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

    with query_scratch("ndl_cbr_", sf_dir, "orders") as tmp:
        src = VersionedTable(spark, f"{tmp}/src", num_buckets=8)
        src.create(base, keys=["o_orderkey"])
        src.upsert(
            base.where(F.col("o_orderkey") % 5 == 0)
            .select("o_orderkey", (F.col("cents") + 1000).alias("cents"))
            .unionByName(synthetic)
        )
        rep = src.clone(f"{tmp}/rep", version=1)
        bootstrap_commits = 1 if rep.latest_version() == 0 else 0
        src.delete_where(
            ((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") >= 0))
            | (F.col("o_orderkey") == -1),
            deferred=True,
        )
        src.upsert(
            base.where(
                (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0)
            ).select("o_orderkey", (F.col("cents") + 7).alias("cents"))
        )
        feed = (
            spark.readStream.format("table_changes")
            .option("path", src.root)
            .option("starting_version", 2)
            .load()
        )
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
            [
                (
                    int(agg["n"]),
                    int(agg["s"]),
                    int(mismatch),
                    int(bootstrap_commits),
                    int(wm_advanced),
                )
            ],
            "n_rows bigint, cents_sum bigint, n_mismatch bigint, "
            "bootstrap_commits bigint, watermark_advanced bigint",
        )
        return out.localCheckpoint(eager=True)


CLONE_BOOTSTRAP_REPLICATION_SQL = f"""
WITH base AS ({_ORDERS_BASE_SQL}),
final AS (
  SELECT key,
         CASE
           WHEN key % 11 = 0 THEN cents + 7
           WHEN key % 5 = 0 THEN cents + 1000
           ELSE cents
         END AS cents
  FROM base
  WHERE NOT (key % 7 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(1 AS BIGINT) AS bootstrap_commits,
       CAST(1 AS BIGINT) AS watermark_advanced
FROM final
"""

STAGED_QUERIES["clone_bootstrap_replication_orders"] = (
    clone_bootstrap_replication_orders
)
STAGED_ORACLES["clone_bootstrap_replication_orders"] = (
    CLONE_BOOTSTRAP_REPLICATION_SQL
)
