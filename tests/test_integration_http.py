"""End-to-end integration: the ``rest_feed`` source over REAL HTTP
(in-process server standing in for the NASA NeoWs API), then bronze
JSON landing -> silver flatten -> gold build.

The bytes travel through a socket via the same ``requests`` code path
production would use (reference ``src/etl/bronze_ingest.py:18-27``),
fetched by an executor Python worker.  The S3A connector (A10) is
asserted at the configuration layer only — the tests start no object
store (see docs/ROUND_NOTES.md).
"""

from __future__ import annotations

import json

from nasa_asteroid_data_lakehouse_spark.sources import pyds
from tests.fixtures_neows import DAY1, DOC_DAY1


def _read_feed(spark, url, start, end, **options):
    pyds.register(spark)
    reader = (
        spark.read.format("rest_feed")
        .option("url", url)
        .option("start_date", start)
        .option("end_date", end)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load().collect()


def test_fetch_feed_over_real_http(spark, feed_url):
    """The window's dates and the API key cross the wire as query
    params, and the document comes back whole."""
    (row,) = _read_feed(spark, feed_url, DAY1, DAY1, api_key="TEST_KEY")
    doc = json.loads(row["payload"])
    assert doc["__params__"] == {
        "start_date": DAY1,
        "end_date": DAY1,
        "api_key": "TEST_KEY",
    }
    assert set(doc["near_earth_objects"]) == set(DOC_DAY1["near_earth_objects"])


def test_fetch_feed_distributed_over_real_http(spark, feed_url):
    """Executor Python workers make the HTTP calls, one per window."""
    out = _read_feed(spark, feed_url, "2025-01-01", "2025-01-20")
    assert len(out) == 3  # 20 days -> 3 seven-day windows
    payloads = [json.loads(r["payload"]) for r in out]
    assert {p["__params__"]["start_date"] for p in payloads} == {
        "2025-01-01",
        "2025-01-08",
        "2025-01-15",
    }
    assert all(
        set(p["near_earth_objects"]) == set(DOC_DAY1["near_earth_objects"])
        for p in payloads
    )


def test_http_to_gold_end_to_end(spark, feed_url, tmp_path):
    """Fetch over the wire, then run the full daily pipeline on the
    fetched document: bronze JSON file -> silver flatten -> gold
    tables, same assertions as the golden-path pipeline test but with
    the document sourced through a socket."""
    from nasa_asteroid_data_lakehouse_spark.pipeline.runner import run_pipeline

    (row,) = _read_feed(spark, feed_url, DAY1, DAY1)
    doc = json.loads(row["payload"])
    # wire-only echo, not part of the feed shape
    assert doc.pop("__params__")["start_date"] == DAY1

    lake = str(tmp_path / "lake")
    tables = run_pipeline(spark, lake, DAY1, doc)
    assert "silver" in tables
    silver = spark.read.parquet(tables["silver"])
    assert silver.where(f"approach_date = '{DAY1}'").count() > 0
    # one gold dim sanity check: every silver asteroid made it through
    dim_tables = [k for k in tables if k != "silver"]
    assert dim_tables, "gold build produced no tables"


def test_configure_s3a_lands_in_hadoop_conf(spark):
    """A10: connector settings reach the live Hadoop configuration.
    Conf-layer only — no MinIO/S3 endpoint is started."""
    from nasa_asteroid_data_lakehouse_spark.session import configure_s3a

    configure_s3a(
        spark, "http://127.0.0.1:9000", "ak", "sk", path_style=True, ssl=False
    )
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.endpoint") == "http://127.0.0.1:9000"
    assert conf.get("fs.s3a.access.key") == "ak"
    assert conf.get("fs.s3a.path.style.access") == "true"
    assert conf.get("fs.s3a.connection.ssl.enabled") == "false"
