"""Golden tests for the NeoWs bronze->silver->gold pipeline
(SURVEY.md §1.3-1.4 schemas, FIXTURES.md §B edge cases)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.pipeline.gold import (
    build_dim_approach_date,
    build_dim_asteroid,
    build_dim_orbiting_body,
    build_fact,
)
from nasa_asteroid_data_lakehouse_spark.pipeline.runner import run_pipeline
from nasa_asteroid_data_lakehouse_spark.pipeline.silver import (
    SILVER_COLUMNS,
    build_silver,
)
from nasa_asteroid_data_lakehouse_spark.pipeline.bronze import ingest_document
from tests.conftest import jobs_in_group
from tests.fixtures_neows import DAY1, DAY2, DOC_DAY1, DOC_DAY2

GOLD_BUILDERS = {
    "dim_asteroid": build_dim_asteroid,
    "dim_approach_date": build_dim_approach_date,
    "dim_orbiting_body": build_dim_orbiting_body,
    "fact_asteroid_approach": build_fact,
}


@pytest.fixture(scope="module")
def silver_day1(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    path = ingest_document(root, DAY1, DOC_DAY1)
    return build_silver(spark, path, dates=[DAY1]).cache()


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_silver_schema_27_typed_columns(silver_day1):
    assert silver_day1.columns == SILVER_COLUMNS
    dtypes = dict(silver_day1.dtypes)
    assert dtypes["id"] == "int"
    assert dtypes["absolute_magnitude_h"] == "double"
    assert dtypes["is_hazardous"] == "boolean"
    assert dtypes["velocity_km_s"] == "double"  # JSON string -> typed
    assert dtypes["miss_km"] == "double"
    assert dtypes["approach_date"] == "string"
    # the reference's all-strings bug must NOT reproduce
    assert sum(1 for _, t in silver_day1.dtypes if t == "string") == 6


def test_silver_double_explode_fanout(silver_day1):
    # 2 NEOs, one with 2 approaches -> 3 silver rows
    assert silver_day1.count() == 3
    pk9 = silver_day1.where(F.col("id") == 3542519)
    assert pk9.count() == 2
    assert {r["orbiting_body"] for r in pk9.collect()} == {"Earth", "Moon"}


def test_silver_placeholder_normalization(silver_day1):
    apophis = silver_day1.where(F.col("id") == 2099942).collect()[0]
    assert apophis["nasa_jpl_url"] is None  # "NULL" -> null
    assert apophis["velocity_km_s"] == 13.08


def test_dim_approach_date_golden(silver_day1):
    dim = build_dim_approach_date(silver_day1)
    rows = {r["approach_date_full"]: r for r in dim.collect()}
    assert len(rows) == 3
    r = rows["2025-Dec-28 05:12"]
    assert (r["year"], r["month"], r["day"], r["hour"], r["minute"]) == (2025, 12, 28, 5, 12)
    assert r["week_of_year"] == 52
    assert r["sk_approach_date"] == sha("2025-Dec-28 05:12")
    assert str(r["approach_date"]) == "2025-12-28"


def test_dim_orbiting_body_golden(silver_day1):
    dim = build_dim_orbiting_body(silver_day1)
    rows = {r["orbiting_body"]: r["sk_orbiting_body"] for r in dim.collect()}
    assert rows == {"Earth": sha("Earth"), "Moon": sha("Moon")}


def test_dim_asteroid_golden(silver_day1):
    dim = build_dim_asteroid(silver_day1)
    assert dim.count() == 2  # PK9 deduped to one row
    assert len(dim.columns) == 17  # 16 descriptive + sk
    r = {x["id"]: x for x in dim.collect()}[3542519]
    assert r["sk_asteroid"] == sha("3542519")
    assert r["diam_max_km"] == 0.23


def test_fact_golden(silver_day1):
    fact = build_fact(silver_day1)
    assert fact.count() == 3  # grain: one row per approach
    assert dict(fact.dtypes)["approach_epoch"] == "bigint"
    r = fact.where(F.col("sk_orbiting_body") == sha("Moon")).collect()[0]
    assert r["sk_asteroid"] == sha("3542519")
    assert r["velocity_km_h"] == 47087.38
    assert r["miss_lunar"] == 13.01


def test_fact_dims_join_on_sks(silver_day1):
    fact = build_fact(silver_day1)
    dim_a = build_dim_asteroid(silver_day1)
    dim_d = build_dim_approach_date(silver_day1)
    dim_b = build_dim_orbiting_body(silver_day1)
    joined = (
        fact.join(dim_a, "sk_asteroid")
        .join(dim_d, "sk_approach_date")
        .join(dim_b, "sk_orbiting_body")
    )
    assert joined.count() == 3  # no orphan keys in either direction


def test_full_pipeline_two_days_idempotent(spark, tmp_path):
    """Two daily runs + a rerun: gold upserts stay key-unique and the
    latest observation wins for the duplicated asteroid."""
    root = str(tmp_path / "lake")
    run_pipeline(spark, root, DAY1, DOC_DAY1)
    tables = run_pipeline(spark, root, DAY2, DOC_DAY2)

    # on disk, each gold table has exactly its builder's columns: the
    # merge's ranking helpers never reach storage
    silver = spark.read.parquet(tables["silver"])
    for name, builder in GOLD_BUILDERS.items():
        on_disk = spark.read.parquet(tables[name]).columns
        assert on_disk == builder(silver).columns, name
        assert not [c for c in on_disk if c.startswith("__")], name
    dim_asteroid = spark.read.parquet(tables["dim_asteroid"])
    assert len(dim_asteroid.columns) == 17
    assert dim_asteroid.count() == 3  # 3542519, 2099942, 54016476
    pk9 = dim_asteroid.where(F.col("id") == 3542519).collect()[0]
    assert pk9["absolute_magnitude_h"] == 21.90  # day-2 observation won

    # 3 day-1 approaches + 2 day-2 approaches, all distinct (asteroid, ts)
    fact = spark.read.parquet(tables["fact_asteroid_approach"])
    assert fact.count() == 5
    dim_dates = spark.read.parquet(tables["dim_approach_date"])
    assert dim_dates.count() == 5
    # year-boundary ISO week
    nye = dim_dates.where(F.col("approach_date_full") == "2025-Dec-31 23:59").collect()[0]
    assert nye["week_of_year"] == 1

    # rerun day 2: fully idempotent
    tables2 = run_pipeline(spark, root, DAY2, DOC_DAY2)
    assert spark.read.parquet(tables2["fact_asteroid_approach"]).count() == 5
    dim_asteroid2 = spark.read.parquet(tables2["dim_asteroid"])
    assert dim_asteroid2.count() == 3
    empty_name = dim_asteroid2.where(F.col("id") == 54016476).collect()[0]
    assert empty_name["name"] is None  # "" -> null survived the merge


def test_empty_first_day_then_real_day(spark, tmp_path):
    """A day with no NEOs writes no silver file; the gold re-read uses
    the declared silver schema, so it neither fails nor blocks the next
    day from landing."""
    root = str(tmp_path / "lake")
    run_pipeline(spark, root, "2025-12-27", {"near_earth_objects": {"2025-12-27": []}})
    tables = run_pipeline(spark, root, DAY1, DOC_DAY1)
    assert spark.read.parquet(tables["fact_asteroid_approach"]).count() == 3
    assert spark.read.parquet(tables["dim_asteroid"]).count() == 2
    assert spark.read.parquet(tables["dim_approach_date"]).count() == 3
    assert spark.read.parquet(tables["dim_orbiting_body"]).count() == 2


# Spark jobs of one merge day: the silver write, then one merge
# exchange (map stage + write) per gold table; no schema inference.
MERGE_DAY_JOBS = 9


def test_merge_day_spark_job_ceiling(spark, tmp_path):
    root = str(tmp_path / "lake")
    run_pipeline(spark, root, DAY1, DOC_DAY1)
    _, jobs = jobs_in_group(
        spark.sparkContext,
        "pipeline-merge-day",
        lambda: run_pipeline(spark, root, DAY2, DOC_DAY2),
    )
    assert jobs <= MERGE_DAY_JOBS, f"expected <={MERGE_DAY_JOBS} jobs, saw {jobs}"
    assert spark.read.parquet(f"{root}/gold/dim_asteroid").count() == 3
