"""Tests for source readers (JSONL, multiline JSON, distributed REST
fetch), incremental sources and catalog views."""

import json

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.sources import readers, rest


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


def _fake_fetch(url, params):
    return {"echo": params["start_date"], "url": url}


def test_distributed_rest_fetch(spark):
    import datetime

    out = rest.fetch_feed_distributed(
        spark,
        datetime.date(2025, 1, 1),
        datetime.date(2025, 1, 20),
        fetch_fn=_fake_fetch,
    ).collect()
    assert len(out) == 3  # 20 days -> 3 seven-day windows
    payloads = [json.loads(r["payload"]) for r in out]
    assert {p["echo"] for p in payloads} == {"2025-01-01", "2025-01-08", "2025-01-15"}
    assert all(p["url"] == rest.NEOWS_URL for p in payloads)


def test_date_chunks_edges():
    import datetime

    chunks = rest.date_chunks(datetime.date(2025, 1, 1), datetime.date(2025, 1, 7))
    assert chunks == [("2025-01-01", "2025-01-07")]
    chunks = rest.date_chunks(datetime.date(2025, 1, 1), datetime.date(2025, 1, 8))
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


# --- incremental file-listing source -----------------------------------------


def test_incremental_source(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.sources import incremental

    raw = tmp_path / "raw"
    raw.mkdir()
    manifest = str(tmp_path / "manifest.json")

    spark.range(0, 5).write.mode("overwrite").parquet(str(raw / "batch1"))

    # first run sees everything
    df, files = incremental.read_incremental(spark, str(raw), manifest)
    assert df is not None and df.count() == 5
    assert len(files) >= 1

    # not committed -> same batch again (at-least-once across crashes)
    df2, files2 = incremental.read_incremental(spark, str(raw), manifest)
    assert files2 == files

    incremental.commit_files(manifest, files)
    df3, files3 = incremental.read_incremental(spark, str(raw), manifest)
    assert df3 is None and files3 == []

    # new files arrive -> only they are read
    spark.range(100, 103).write.mode("overwrite").parquet(str(raw / "batch2"))
    df4, files4 = incremental.read_incremental(spark, str(raw), manifest)
    assert df4 is not None
    assert sorted(r["id"] for r in df4.collect()) == [100, 101, 102]
    assert all("batch2" in f for f in files4)
    incremental.commit_files(manifest, files4)

    # immutability contract: mutating a committed file raises
    committed = files4[0]
    with open(committed, "ab") as f:
        f.write(b"junk")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutated"):
        incremental.discover_new_files(str(raw), manifest)


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


def test_read_csv(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name,score\n1,a,1.5\n2,b,\n3,c,9.25\n")
    out = readers.read_csv(spark, str(p), schema="id int, name string, score double")
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] == 1.5
    assert rows[2]["score"] is None  # empty cell -> typed null, not ""
    assert out.schema["score"].dataType.typeName() == "double"
