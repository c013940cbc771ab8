"""Source readers (SURVEY.md §2 A4-A6, A9).

Scale stance: bronze documents should be JSONL with an explicit schema
— multiline whole-document JSON (the reference's choice, reference
``src/etl/bronze_to_silver.py:34-38``) parses as ONE task no matter the
cluster size, and schema inference doubles the read.  Both readers are
provided; the multiline one exists for parity and small control files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_json_multiline(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Whole-document JSON (one record spanning lines). Single-task
    parse — parity with the reference bronze read; fine for one API
    response, wrong for bulk data (use read_jsonl)."""
    reader = spark.read.option("multiline", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Line-delimited JSON — splittable, parallel parse; give a schema
    to skip the inference pass (mandatory at scale)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.json(path)
