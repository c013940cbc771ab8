"""Spark 4 Python DataSource (rest_feed) over a real in-process HTTP
server: batch partition fan-out and the simple stream reader's
offset-per-window progression."""

from __future__ import annotations

import json

from nasa_asteroid_data_lakehouse_spark.sources import pyds
from tests.fixtures_neows import DOC_DAY1


def test_windows_partitioning():
    w = pyds._windows("2024-01-01", "2024-01-20", 7)
    assert w == [
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-20"),
    ]


def test_batch_read_fans_out_partitions(spark, feed_url):
    pyds.register(spark)
    df = (
        spark.read.format("rest_feed")
        .option("url", feed_url)
        .option("start_date", "2024-01-01")
        .option("end_date", "2024-01-20")
        .option("days_per_page", "7")
        .load()
    )
    rows = df.collect()
    assert df.columns == ["start_date", "end_date", "payload"]
    assert len(rows) == 3  # one row per window partition
    by_start = {r["start_date"]: r for r in rows}
    doc = json.loads(by_start["2024-01-08"]["payload"])
    # the window's dates crossed the wire as query params
    assert doc["__params__"]["start_date"] == "2024-01-08"
    assert doc["__params__"]["end_date"] == "2024-01-14"
    assert doc["near_earth_objects"] == DOC_DAY1["near_earth_objects"]


def test_stream_reader_one_window_per_batch(spark, feed_url, tmp_path):
    pyds.register(spark)
    stream = (
        spark.readStream.format("rest_feed")
        .option("url", feed_url)
        .option("start_date", "2024-02-01")
        .option("end_date", "2024-02-10")
        .option("days_per_page", "4")
        .load()
    )
    # Python micro-batch streams don't support Trigger.AvailableNow
    # (Spark logs a fallback warning); run the default trigger and poll
    # the memory sink until the three windows land.
    q = (
        stream.writeStream.format("memory")
        .queryName("rest_feed_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) c FROM rest_feed_sink").first()["c"] >= 3:
            break
        time.sleep(0.5)
    rows = spark.sql("SELECT start_date, end_date FROM rest_feed_sink").collect()
    q.stop()
    got = sorted((r["start_date"], r["end_date"]) for r in rows)
    assert got == [
        ("2024-02-01", "2024-02-04"),
        ("2024-02-05", "2024-02-08"),
        ("2024-02-09", "2024-02-10"),
    ]


def test_stream_offsets_replayable(feed_url):
    r = pyds._RestFeedStreamReader(
        {"url": feed_url, "start_date": "2024-03-01", "end_date": "2024-03-06",
         "days_per_page": "3"}
    )
    assert r.initialOffset() == {"next_start": "2024-03-01"}
    rows1, off1 = r.read({"next_start": "2024-03-01"})
    assert [row[:2] for row in rows1] == [("2024-03-01", "2024-03-03")]
    assert off1 == {"next_start": "2024-03-04"}
    # recovery replay covers exactly the committed range
    replay = list(r.readBetweenOffsets({"next_start": "2024-03-01"}, off1))
    assert [row[:2] for row in replay] == [("2024-03-01", "2024-03-03")]
    # drained range returns empty without advancing
    rows3, off3 = r.read({"next_start": "2024-03-07"})
    assert list(rows3) == [] and off3 == {"next_start": "2024-03-07"}
