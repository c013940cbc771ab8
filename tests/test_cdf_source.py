"""The ``table_changes`` Python DataSource (sources/cdf_stream.py):
a VersionedTable's change feed as a batch source and a streaming
subscription — Delta's CDF read, over the manifest log.

No reference analog: the reference (``src/etl/*.py``) rewrites whole
tables per day and keeps no commit log.
"""

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable
from nasa_asteroid_data_lakehouse_spark.sources import cdf_stream


@pytest.fixture()
def table(spark, tmp_path):
    cdf_stream.register(spark)
    t = VersionedTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.create(
        spark.createDataFrame(
            [(i, i % 7) for i in range(30)], "k bigint, v bigint"
        ),
        keys=["k"],
    )
    return t


def _rows(df):
    return sorted(
        map(tuple, df.select("k", "v", "_change_type", "_commit_version").collect())
    )


def test_batch_read_matches_changes(spark, table):
    table.upsert(spark.createDataFrame([(3, 100), (99, 1)], "k bigint, v bigint"))
    table.delete_where(F.col("k") % 10 == 5)
    src = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    eng = table.changes(0)
    assert sorted(
        map(tuple, src.select("k", "v", "_change_type").collect())
    ) == sorted(map(tuple, eng.select("k", "v", "_change_type").collect()))
    # the default backfill also emits version 0 as inserts
    full = spark.read.format("table_changes").option("path", table.root).load()
    assert full.where("_commit_version = 0").count() == 30
    assert (
        full.where("_commit_version = 0")
        .where("_change_type <> 'insert'")
        .count()
        == 0
    )


def test_deferred_delete_surfaces_in_feed(spark, table):
    """A dv-only commit touches no data file; the source must still
    emit its deletes (the dv-diff changed-bucket rule)."""
    table.delete_where(F.col("k") % 9 == 0, deferred=True)
    src = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    got = _rows(src)
    assert got == sorted(
        (k, k % 7, "delete", 1) for k in range(30) if k % 9 == 0
    )


def test_stream_drains_and_resumes_exactly_once(spark, table, tmp_path):
    """availableNow drains the committed versions; a LATER drain from
    the same checkpoint emits only versions committed in between — the
    offset is the commit version and replays exactly."""
    table.upsert(spark.createDataFrame([(3, 100)], "k bigint, v bigint"))
    out, ck = str(tmp_path / "rows"), str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("table_changes")
            .option("path", table.root)
            .option("starting_version", 1)
            .load()
            .writeStream.format("parquet")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    first = _rows(drain())
    assert first == [(3, 100, "update_postimage", 1)]
    # new commits while the stream is down
    table.delete_where(F.col("k") == 5)
    table.upsert(spark.createDataFrame([(200, 0)], "k bigint, v bigint"))
    second = _rows(drain())
    assert second == [
        (3, 100, "update_postimage", 1),
        (5, 5, "delete", 2),
        (200, 0, "insert", 3),
    ]
    # a third drain with no new commits appends nothing
    assert _rows(drain()) == second


def test_stream_follows_restore_and_dv_commits(spark, table, tmp_path):
    """The subscription composes with the round-9 commit types: a
    deferred delete surfaces as deletes, a restore as its undo feed."""
    v1 = table.delete_where(F.col("k") % 9 == 0, deferred=True)
    table.restore(0)
    out, ck = str(tmp_path / "rows"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("table_changes")
        .option("path", table.root)
        .option("starting_version", 1)
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    got = _rows(spark.read.parquet(out))
    dels = [(k, k % 7, "delete", v1) for k in range(30) if k % 9 == 0]
    undo = [(k, k % 7, "insert", v1 + 1) for k in range(30) if k % 9 == 0]
    assert got == sorted(dels + undo)


def test_schema_added_columns_null_fill_in_feed(spark, table):
    """Rows from commits BEFORE a column existed read the stream's
    pinned schema with NULL in the late column (mergeSchema
    semantics); the evolved rows carry their values."""
    table.upsert(
        spark.createDataFrame([(3, 100, "note")], "k bigint, v bigint, w string")
    )
    src = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    rows = {r["k"]: r for r in src.collect()}
    assert rows[3]["w"] == "note"
    assert rows[3]["_change_type"] == "update_postimage"


def test_null_key_rows_diff_null_safely(spark, tmp_path):
    cdf_stream.register(spark)
    t = VersionedTable(spark, str(tmp_path / "tn"), num_buckets=2)
    t.create(
        spark.createDataFrame(
            [(1, "a"), (None, "n")], "k bigint, v string"
        ),
        keys=["k"],
    )
    t.upsert(spark.createDataFrame([(None, "N2")], "k bigint, v string"))
    src = (
        spark.read.format("table_changes")
        .option("path", t.root)
        .option("from_version", 0)
        .load()
    )
    got = [(r["k"], r["v"], r["_change_type"]) for r in src.collect()]
    assert got == [(None, "N2", "update_postimage")]


# --- continuous replication (table_changes source -> replica sink) ---------------


def _mirror(spark, src_root, replica, tmp, starting_version=0):
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        replication_sink,
    )

    feed = (
        spark.readStream.format("table_changes")
        .option("path", src_root)
        .option("starting_version", starting_version)
        .load()
    )
    q = (
        replication_sink(feed, replica, keys=["k"], checkpoint_dir=f"{tmp}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _content(t):
    return sorted(map(tuple, t.read().select("k", "v").collect()))


def test_replication_mirror_converges(spark, table, tmp_path):
    """Full loop: subscribe to the source table's CDF and apply into a
    replica — the replica converges to the source across upserts,
    deletes (incl. deferred), and a restore, and a re-drain from the
    same checkpoint applies nothing new."""
    rep = VersionedTable(spark, str(tmp_path / "rep"), num_buckets=4)
    rep.create(
        spark.createDataFrame([], "k bigint, v bigint"), keys=["k"]
    )
    table.upsert(spark.createDataFrame([(3, 100), (99, 1)], "k bigint, v bigint"))
    table.delete_where(F.col("k") % 10 == 5, deferred=True)
    _mirror(spark, table.root, rep, str(tmp_path / "m1"))
    assert _content(rep) == _content(table)
    head = rep.latest_version()
    # more upstream commits while the mirror is down, incl. a restore
    table.restore(0)
    table.upsert(spark.createDataFrame([(7, 700)], "k bigint, v bigint"))
    _mirror(spark, table.root, rep, str(tmp_path / "m1"))
    assert _content(rep) == _content(table)
    # re-drain with nothing new: the replica commits nothing
    v = rep.latest_version()
    assert v > head
    _mirror(spark, table.root, rep, str(tmp_path / "m1"))
    assert rep.latest_version() == v


def test_replication_replayed_batch_noops(spark, table, tmp_path):
    """The idempotent-writer guard on the replica side: re-applying an
    already-applied feed batch (fresh checkpoint lineage re-delivers
    batch ids from 0) commits nothing and changes nothing."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        apply_feed_batch,
    )

    rep = VersionedTable(spark, str(tmp_path / "rep2"), num_buckets=4)
    rep.create(spark.createDataFrame([], "k bigint, v bigint"), keys=["k"])
    table.upsert(spark.createDataFrame([(3, 100)], "k bigint, v bigint"))
    table.delete_where(F.col("k") == 9)
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", -1)
        .load()
    )
    assert apply_feed_batch(rep, feed, ["k"], 0) is True
    assert _content(rep) == _content(table)
    v = rep.latest_version()
    assert apply_feed_batch(rep, feed, ["k"], 0) is False  # replay no-ops
    assert rep.latest_version() == v
    assert _content(rep) == _content(table)


def test_replication_delete_only_batch_advances_watermark(spark, table, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.streaming.lakehouse import (
        stream_batch_watermark,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        apply_feed_batch,
    )

    rep = VersionedTable(spark, str(tmp_path / "rep3"), num_buckets=4)
    rep.create(
        spark.createDataFrame([(i, i % 7) for i in range(30)], "k bigint, v bigint"),
        keys=["k"],
    )
    table.delete_where(F.col("k") < 3)
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    assert apply_feed_batch(rep, feed, ["k"], 5) is True
    assert _content(rep) == _content(table)
    assert stream_batch_watermark(rep, "replication") == 5


def test_replication_ignores_update_preimages(spark, table, tmp_path):
    """ADVICE r09 #2: a preimage-carrying feed must never upsert the
    stale old image — update_preimage rows tie with their postimage
    twin at the same _commit_version, and the latest-per-key pick
    between them would otherwise be arbitrary."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        apply_feed_batch,
    )

    rep = VersionedTable(spark, str(tmp_path / "rep_pre"), num_buckets=4)
    rep.create(
        spark.createDataFrame(
            [(i, i % 7) for i in range(30)], "k bigint, v bigint"
        ),
        keys=["k"],
    )
    table.upsert(
        spark.createDataFrame([(3, 999), (4, 888)], "k bigint, v bigint")
    )
    feed = table.changes(
        0, table.latest_version(), include_preimages=True
    ).withColumn("_commit_version", F.lit(table.latest_version()))
    assert (
        feed.where(F.col("_change_type") == "update_preimage").count() > 0
    )
    assert apply_feed_batch(rep, feed, ["k"], 0) is True
    got = {r["k"]: r["v"] for r in rep.read().collect()}
    assert got[3] == 999 and got[4] == 888  # postimages, never preimages


def test_replication_apply_releases_its_batch_frame(spark, table, tmp_path):
    """Each apply caches its latest-per-key frame for its own consumers
    and frees it before returning: a long-running mirror holds no
    blocks from applied batches, at no more Spark jobs per apply."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        apply_feed_batch,
    )
    from tests.conftest import jobs_in_group

    sc = spark.sparkContext

    def cached_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    rep = VersionedTable(spark, str(tmp_path / "rep_free"), num_buckets=4)
    rep.create(
        spark.createDataFrame([(i, i % 7) for i in range(10)], "k bigint, v bigint"),
        keys=["k"],
    )
    baseline = cached_rdds()
    for batch_id in range(3):
        before = table.latest_version()
        table.upsert(
            spark.createDataFrame([(batch_id, 100 + batch_id)], "k bigint, v bigint")
        )
        feed = (
            spark.read.format("table_changes")
            .option("path", table.root)
            .option("from_version", before)
            .load()
        )
        applied, jobs = jobs_in_group(
            sc,
            f"replication_apply_{batch_id}",
            lambda: apply_feed_batch(rep, feed, ["k"], batch_id),
        )
        assert applied is True
        assert jobs <= 9
        assert cached_rdds() == baseline
    got = {r["k"]: r["v"] for r in rep.read().collect()}
    assert got == {
        **{i: i % 7 for i in range(10)},
        **{b: 100 + b for b in range(3)},
    }


def test_feed_skips_maintenance_commits(spark, table):
    """Maintenance commits (data_change=false) are invisible to the
    change feed — Delta's dataChange contract.  compact/optimize
    rewrite every touched file, but the feed emits nothing for them
    and the planner never reads a byte (zero partitions planned)."""
    table.upsert(spark.createDataFrame([(3, 999)], "k bigint, v bigint"))
    v_compact = table.compact(target_files_per_bucket=0)
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    assert feed.where(F.col("_commit_version") == v_compact).count() == 0
    parts = cdf_stream._changed_bucket_partitions(
        table.root, v_compact - 1, v_compact, ["k"], ["k", "v"]
    )
    # only the mandatory no-op placeholder partition remains
    assert len(parts) == 1 and parts[0].old_files == [] and parts[0].new_files == []


def test_feed_skip_falls_back_to_operation_name(spark, table):
    """Manifests written before the data_change flag existed are
    classified by operation name — compact/optimize/rebucket are
    content-preserving by construction."""
    import json
    import os

    v = table.rebucket(8)
    p = os.path.join(table._manifest_dir, f"v{v:08d}.json")
    with open(p) as fh:
        m = json.load(fh)
    assert m.get("data_change") is False
    del m["data_change"]  # simulate a pre-flag manifest
    with open(p, "w") as fh:
        json.dump(m, fh)
    assert cdf_stream._is_data_change(m) is False
    parts = cdf_stream._changed_bucket_partitions(
        table.root, v - 1, v, ["k"], ["k", "v"]
    )
    assert len(parts) == 1 and parts[0].new_files == []


def test_replication_feed_correct_across_rebucket(spark, table, tmp_path):
    """The end-to-end hazard the skip exists for: without it, a
    rebucket's name-paired bucket diff manufactures false delete +
    insert pairs at one _commit_version and the replica's
    latest-per-key pick can DROP rows.  With it, a replica draining
    straight through a rebucket converges exactly."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replication import (
        apply_feed_batch,
    )

    rep = VersionedTable(spark, str(tmp_path / "rep_rb"), num_buckets=4)
    rep.create(
        spark.createDataFrame(
            [(i, i % 7) for i in range(30)], "k bigint, v bigint"
        ),
        keys=["k"],
    )
    table.upsert(spark.createDataFrame([(3, 999)], "k bigint, v bigint"))
    table.rebucket(16)
    table.delete_where(F.col("k") % 10 == 5)
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 0)
        .load()
    )
    assert apply_feed_batch(rep, feed, ["k"], 0) is True
    assert _content(rep) == _content(table)


def test_restore_across_rebucket_global_diff_partition(spark, table):
    """The one data-change commit that can cross bucket spaces — a
    restore over a rebucket — degrades to a single whole-snapshot diff
    partition and classifies the undo exactly once per row."""
    table.upsert(spark.createDataFrame([(3, 999), (99, 1)], "k bigint, v bigint"))
    table.rebucket(16)
    v_restore = table.restore(0)
    parts = cdf_stream._changed_bucket_partitions(
        table.root, v_restore - 1, v_restore, ["k"], ["k", "v"]
    )
    assert len(parts) == 1  # global diff, not name-paired buckets
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", v_restore - 1)
        .option("to_version", v_restore)
        .load()
    )
    rows = _rows(feed)
    # the undo of the upsert: key 3 back to 3%7=3, key 99 un-inserted
    assert (3, 3, "update_postimage", v_restore) in rows
    assert (99, 1, "delete", v_restore) in rows
    assert len(rows) == 2


def test_feed_fails_closed_past_vacuum(spark, table):
    """A feed range needing a vacuumed manifest raises a clear
    driver-side error naming the earliest answerable version — never a
    bare executor FileNotFoundError, never a silently partial feed."""
    import pytest

    table.upsert(spark.createDataFrame([(3, 100)], "k bigint, v bigint"))
    table.delete_where(F.col("k") == 5)
    table.vacuum(keep_last=2)  # survivors: v1, v2
    with pytest.raises(Exception, match="vacuumed"):
        cdf_stream._changed_bucket_partitions(
            table.root, 0, 2, ["k"], ["k", "v"]
        )
    # inside the surviving window: answers exactly
    feed = (
        spark.read.format("table_changes")
        .option("path", table.root)
        .option("from_version", 1)
        .load()
    )
    assert _rows(feed) == [(5, 5, "delete", 2)]
