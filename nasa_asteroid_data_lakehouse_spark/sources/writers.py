"""Sinks (SURVEY.md §2 A7-A8).

Parity with ``df_to_bucket`` (reference ``src/utils/bucket.py:52-61``)
plus the fix the reference needs: with
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by the
session factory) an overwrite replaces only the partitions present in
the incoming frame, so a daily rerun can't truncate the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    fmt: str = "parquet",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned columnar sink.

    ``max_records_per_file`` caps file size for downstream parallelism;
    pair with a pre-write ``repartition(partition_cols)`` when many
    tasks would otherwise each write a sliver into every partition
    (small-file explosion at scale).
    """
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet") -> None:
    df.write.format(fmt).mode(mode).save(path)
