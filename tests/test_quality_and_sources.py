"""Tests for source readers (JSONL, multiline JSON), REST feed date
windows, clustered writes and catalog views."""

import json

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.sources import pyds, readers


def test_read_jsonl_with_schema(spark, tmp_path):
    path = str(tmp_path / "data.jsonl")
    with open(path, "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"id": i, "name": f"n{i}", "score": i * 1.5}) + "\n")
    df = readers.read_jsonl(spark, path, schema="id long, name string, score double")
    assert df.count() == 5
    assert dict(df.dtypes) == {"id": "bigint", "name": "string", "score": "double"}
    # JSONL is splittable: more than one partition possible on bigger files
    assert df.where(F.col("score") > 4.0).count() == 2


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


def test_write_clustered_enables_skipping(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.sources.writers import write_clustered

    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li_clustered")
    write_clustered(lineitem, path, ["l_shipdate"], num_files=8)

    out = spark.read.parquet(path)
    assert out.count() == lineitem.count()

    # footer stats: each file covers a narrow range; a selective
    # predicate overlaps few of them
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    # near-disjoint: sorted by min, each file's min >= previous file's max
    # (range partitioning may split a boundary value across two files)
    ranges.sort()
    overlaps = sum(1 for (a, b) in zip(ranges, ranges[1:]) if b[0] < a[1])
    assert overlaps <= 1, f"files overlap too much: {ranges}"
