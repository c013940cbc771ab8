"""Tests for the multiline JSON reader, REST feed date windows and
catalog views."""

import json

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.sources import pyds, readers


def test_read_json_multiline(spark, tmp_path):
    path = str(tmp_path / "doc.json")
    with open(path, "w") as fh:
        json.dump({"outer": {"inner": [1, 2, 3]}}, fh, indent=2)
    df = readers.read_json_multiline(spark, path)
    assert df.select(F.size("outer.inner")).collect()[0][0] == 3


def test_date_chunks_edges():
    chunks = pyds._windows("2025-01-01", "2025-01-07", 7)
    assert chunks == [("2025-01-01", "2025-01-07")]
    chunks = pyds._windows("2025-01-01", "2025-01-08", 7)
    assert chunks == [("2025-01-01", "2025-01-07"), ("2025-01-08", "2025-01-08")]


def test_catalog_views_and_sql(spark):
    from nasa_asteroid_data_lakehouse_spark.catalog import Catalog

    cat = Catalog(spark, "/root/testdata/sf0.001")
    cat.create_views(("region", "nation"))
    out = cat.sql(
        "SELECT r_name, COUNT(*) AS n FROM nation JOIN region "
        "ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"
    ).collect()
    assert len(out) == 5
    assert sum(r["n"] for r in out) == 25
    assert cat.table("customer").count() == 150
