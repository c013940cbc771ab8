"""Continuous table replication: ``table_changes`` subscription ->
exactly-once apply into a replica VersionedTable — the Delta-mirror
composition (CDF stream + idempotent MERGE sink) that keeps a
downstream copy converged with an upstream table it never full-scans.

Per micro-batch the feed carries insert / update_postimage / delete
rows stamped with ``_commit_version``.  The apply is: deletes become a
DELETION-VECTOR commit (``VersionedTable.delete_keys`` — the key set
writes straight into per-bucket vectors, O(deleted keys) with NO
driver literals and NO discovery scan; a CDC delete half can be
millions of keys, far past what a ``key_values`` literal list
tolerates), then new images upsert (incoming-wins merge — inserts and
updates are the same MERGE).  The stream's ``{app_id, batch_id}``
marker rides the LAST commit of the batch, which makes the two-commit
apply exactly-once under any crash point: a crash BEFORE the marker
commit leaves the watermark unadvanced, so the replayed batch re-runs
both halves — the delete half is idempotent (vector entries for
already-deleted keys subtract nothing) and the upsert half is
content-idempotent — and a crash AFTER it makes the replay a pure
no-op (``batch_id <= watermark``, the ``streaming/lakehouse.py``
guard).  Marker-first would instead LOSE the delete half on a crash
between the commits; a delete-only batch carries the marker ON the
delete commit (``delete_keys(extra_meta=...)``), one commit total.

Ordering: within one micro-batch the feed may span several upstream
commits; images are reduced to the LATEST per key (max
``_commit_version``, delete-beats-update at the same version is
impossible — a key changes at most once per commit) before applying,
so out-of-order rows inside a batch cannot regress a key.

Scale: the replica write cost is O(changed rows) per batch — upsert
rewrites only touched buckets, the delete discovery is key-pruned —
and the source side diffs only changed buckets; end to end, keeping a
mirror costs change-proportional work, never a table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
from nasa_asteroid_data_lakehouse_spark.streaming.lakehouse import (
    stream_batch_watermark,
)


def apply_feed_batch(
    replica: VersionedTable,
    feed: DataFrame,
    keys: list[str],
    batch_id: int,
    app_id: str = "replication",
) -> bool:
    """Apply one CDF micro-batch to ``replica`` exactly once.
    Returns True when applied, False on the no-op replay path."""
    if int(batch_id) <= stream_batch_watermark(replica, app_id):
        return False
    from pyspark.sql import Window

    # Preimages are observational rows, never apply targets: a
    # preimage-carrying feed would otherwise tie with its
    # update_postimage twin at the same _commit_version and the
    # row_number pick would be arbitrary — upserting the STALE old
    # image half the time (mirrors VersionedTable.apply_changes,
    # ADVICE r09 #2).  table_changes feeds omit preimages by default,
    # so this filter is a no-op on the wired path.
    if "_change_type" in feed.columns:
        feed = feed.where(F.col("_change_type") != F.lit("update_preimage"))
    # latest image per key within the batch (a batch can span commits).
    # Cached ONCE (guide §1.2): the apply consumes this frame up to
    # five times (the presence probe, the delete write, the upsert's
    # touched-bucket probe and its merge write), and each consumer
    # would otherwise re-evaluate the window over the micro-batch
    # source scan.  The frame is O(changed keys in one batch) — the
    # change-proportional bound the module docstring states — and is
    # released before returning, so a long-running stream holds no
    # blocks from applied batches.
    w = Window.partitionBy(*keys).orderBy(F.desc("_commit_version"))
    latest = (
        feed.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk", "_commit_version")
        .persist()
    )
    marker = {"stream_txn": {"app_id": app_id, "batch_id": int(batch_id)}}
    images = latest.where(F.col("_change_type") != "delete").drop(
        "_change_type"
    )
    deletes = latest.where(F.col("_change_type") == "delete").select(*keys)
    try:
        # one probe job instead of two isEmpty scans
        probe = latest.agg(
            F.count(F.when(F.col("_change_type") == "delete", 1)).alias("nd"),
            F.count(F.when(F.col("_change_type") != "delete", 1)).alias("ni"),
        ).first()
        have_images = int(probe["ni"]) > 0
        have_deletes = int(probe["nd"]) > 0
        if have_deletes:
            replica.delete_keys(
                deletes, extra_meta=None if have_images else marker
            )
        if have_images:
            replica.upsert(images, extra_meta=marker)
        elif not have_deletes:
            # empty batch: a marker-only commit still advances the
            # watermark so the replay guard stays exact
            replica.upsert(replica.read().limit(0), extra_meta=marker)
    finally:
        latest.unpersist(blocking=True)
    return True


def replication_sink(
    feed_stream: DataFrame,
    replica: VersionedTable,
    keys: list[str],
    checkpoint_dir: str,
    app_id: str = "replication",
):
    """``writeStream`` builder: continuous replication of a
    ``table_changes`` stream into ``replica``.  Caller picks the
    trigger and calls ``.start()``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_feed_batch(replica, batch_df, keys, batch_id, app_id=app_id)

    return feed_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
