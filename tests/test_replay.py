"""The replay scaffolding every plans replay shares: ``query_scratch``
(scratch lifecycle) and ``streaming.replay`` (file source, drain,
parquet sink)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
    drain_to_parquet,
    file_stream,
)

SCHEMA = "id bigint, ts timestamp"


def _write_batches(spark, src, batches):
    """One parquet file per batch, with strictly increasing mtimes so
    the file source replays them in order."""
    for i, rows in enumerate(batches):
        before = set(os.listdir(src)) if os.path.isdir(src) else set()
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        mtime = 1_000_000_000 + 10 * i
        for name in set(os.listdir(src)) - before:
            if name.endswith(".parquet"):
                os.utime(os.path.join(src, name), (mtime, mtime))


def _dedup_replay(spark, tmp_path, third_ts):
    # Spark filters late rows against the PREVIOUS batch's watermark, so
    # the first batch's max (10:00) guards the third batch, not the second.
    src = str(tmp_path / "in")
    _write_batches(
        spark,
        src,
        [
            [(1, datetime(2024, 1, 1, 10, 0))],
            [(2, datetime(2024, 1, 1, 12, 0))],
            [(3, third_ts)],
        ],
    )
    template = spark.createDataFrame([], SCHEMA)
    deduped = (
        file_stream(spark, template, src)
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["id"])
    )
    return drain_to_parquet(spark, deduped, str(tmp_path / "out"), src)


def test_drain_passes_a_clean_stream(spark, tmp_path):
    got = _dedup_replay(spark, tmp_path, datetime(2024, 1, 1, 13, 0))
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]


def test_drain_fails_closed_on_a_watermark_drop(spark, tmp_path):
    with pytest.raises(RuntimeError, match="dropped 1 row"):
        _dedup_replay(spark, tmp_path, datetime(2024, 1, 1, 9, 0))


def test_parquet_sink_over_empty_source_reads_zero_rows(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    stream = file_stream(spark, spark.createDataFrame([], SCHEMA), src).select(
        "id", F.col("ts").alias("t")
    )
    got = drain_to_parquet(spark, stream, str(tmp_path / "out"), src)
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in stream.schema
    ]


def test_query_scratch_removes_dir_on_return_and_raise(sf_smoke):
    with query_scratch("ndl_test_qs_", sf_smoke, "orders") as tmp:
        open(os.path.join(tmp, "f"), "w").close()
    assert not os.path.exists(tmp)

    with pytest.raises(ValueError):
        with query_scratch("ndl_test_qs_", sf_smoke, "orders") as tmp:
            os.makedirs(os.path.join(tmp, "d"))
            raise ValueError("query failed")
    assert not os.path.exists(tmp)
