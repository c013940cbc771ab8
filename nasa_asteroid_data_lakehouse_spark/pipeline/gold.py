"""Gold stage: star schema (3 dims + 1 fact) with content-derived SKs.

Schema parity with the reference gold builds (reference
``src/etl/silver_to_gold.py:51-148``): identical column names, types,
and sha2-256 surrogate keys, so gold outputs are byte-compatible on the
key columns.  Divergences (intentional, SURVEY.md §7):

* dims dedup on their business key (the reference's all-column
  ``dropDuplicates`` only works because its input is one day);
* upserts use the deterministic incoming-wins merge instead of
  arbitrary-survivor dropDuplicates.

The dedup lives in the merge only.  ``GOLD_TABLES`` holds each table's
undeduplicated projection of silver, its business keys and its
survivor order; ``build_gold`` hands the projection straight to
``save_or_update_table``, whose one ``row_number`` window both dedups
the day and merges it into the stored rows, so each table costs one
exchange.  The stored schema is the projection's (minus ``__`` helper
columns), declared to the existing-table read instead of inferred from
its files.  The public ``build_dim_*`` builders return the same
key-unique frames by running that merge against no existing rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.sql.types import StructType

from nasa_asteroid_data_lakehouse_spark.functions.dates import (
    NEOWS_TS_FORMAT,
    parse_neows_timestamp,
)
from nasa_asteroid_data_lakehouse_spark.functions.keys import surrogate_key
from nasa_asteroid_data_lakehouse_spark.operators.merge import (
    merge_dataframes,
    save_or_update_table,
)

ASTEROID_DESCRIPTIVE = [
    "id",
    "neo_reference_id",
    "name",
    "absolute_magnitude_h",
    "is_hazardous",
    "is_sentry",
    "nasa_jpl_url",
    "link_self",
    "diam_min_feet",
    "diam_max_feet",
    "diam_min_km",
    "diam_max_km",
    "diam_min_m",
    "diam_max_m",
    "diam_min_mi",
    "diam_max_mi",
]


def _approach_date_rows(silver: DataFrame) -> DataFrame:
    """Date dimension: calendar decomposition of the full approach ts."""
    base = (
        silver.select("approach_date_full")
        .na.drop()
        .withColumn("parsed_ts", parse_neows_timestamp("approach_date_full", NEOWS_TS_FORMAT))
    )
    return base.select(
        "approach_date_full",
        "parsed_ts",
        F.to_date("parsed_ts").alias("approach_date"),
        F.year("parsed_ts").alias("year"),
        F.month("parsed_ts").alias("month"),
        F.dayofmonth("parsed_ts").alias("day"),
        F.hour("parsed_ts").alias("hour"),
        F.minute("parsed_ts").alias("minute"),
        F.weekofyear("parsed_ts").alias("week_of_year"),
        surrogate_key("approach_date_full").alias("sk_approach_date"),
    )


def _orbiting_body_rows(silver: DataFrame) -> DataFrame:
    return (
        silver.select("orbiting_body")
        .na.drop()
        .withColumn("sk_orbiting_body", surrogate_key("orbiting_body"))
    )


def _asteroid_rows(silver: DataFrame) -> DataFrame:
    """Asteroid dimension: 16 descriptive columns + sk, one row per
    approach; ``__approach_epoch`` ranks them and is never stored."""
    return silver.select(
        *ASTEROID_DESCRIPTIVE,
        surrogate_key(F.col("id").cast("string")).alias("sk_asteroid"),
        F.col("approach_epoch").alias("__approach_epoch"),
    )


def _latest_approach_first() -> list[Column]:
    """dim_asteroid survivor: max approach_epoch (latest observation
    wins) — the deterministic refinement of the reference's arbitrary
    ``dropDuplicates(["id"])``."""
    return [F.desc_nulls_last("__approach_epoch")]


def build_fact(silver: DataFrame) -> DataFrame:
    """Fact grain: one row per (asteroid, approach ts). SKs recomputed
    from natural keys so fact and dims can be rebuilt independently."""
    return silver.select(
        surrogate_key(F.col("id").cast("string")).alias("sk_asteroid"),
        surrogate_key("approach_date_full").alias("sk_approach_date"),
        surrogate_key("orbiting_body").alias("sk_orbiting_body"),
        F.col("velocity_km_h").cast("double"),
        F.col("velocity_km_s").cast("double"),
        F.col("velocity_mi_h").cast("double"),
        F.col("miss_au").cast("double"),
        F.col("miss_km").cast("double"),
        F.col("miss_mi").cast("double"),
        F.col("miss_lunar").cast("double"),
        F.col("approach_epoch").cast("long"),
    )


# name -> (undeduplicated projection, business keys, survivor order).
# The order is a function because Columns need an active SparkContext.
GOLD_TABLES = {
    "dim_asteroid": (_asteroid_rows, ["id"], _latest_approach_first),
    "dim_approach_date": (_approach_date_rows, ["approach_date_full"], None),
    "dim_orbiting_body": (_orbiting_body_rows, ["orbiting_body"], None),
    "fact_asteroid_approach": (build_fact, ["sk_asteroid", "sk_approach_date"], None),
}


def _gold_input(name: str, silver: DataFrame):
    """(projection, keys, order_by) of gold table ``name`` over ``silver``."""
    project, keys, order = GOLD_TABLES[name]
    return project(silver), keys, order() if order else None


def _key_unique(name: str, silver: DataFrame) -> DataFrame:
    return merge_dataframes(None, *_gold_input(name, silver))


def build_dim_approach_date(silver: DataFrame) -> DataFrame:
    return _key_unique("dim_approach_date", silver)


def build_dim_orbiting_body(silver: DataFrame) -> DataFrame:
    return _key_unique("dim_orbiting_body", silver)


def build_dim_asteroid(silver: DataFrame) -> DataFrame:
    return _key_unique("dim_asteroid", silver)


def build_gold(
    spark: SparkSession,
    silver: DataFrame,
    lake_root: str,
) -> dict[str, str]:
    """Build + upsert all four gold tables; returns name -> path."""
    out = {}
    for name in GOLD_TABLES:
        path = f"{lake_root}/gold/{name}"
        df, keys, order_by = _gold_input(name, silver)
        stored = StructType([f for f in df.schema if not f.name.startswith("__")])
        save_or_update_table(spark, df, path, keys, order_by, schema=stored)
        out[name] = path
    return out
