"""File-level data-skipping statistics — the manifest metadata a
lakehouse table format (Delta/Iceberg) keeps so queries can prune
files without opening them.  The reference has nothing like it: its
only pruning is manual path surgery on one partition column
(`src/etl/silver_to_gold.py:34-37`, SURVEY.md §4).

``collect_file_stats`` computes per-file min/max/null-count/row-count
for chosen columns in ONE distributed pass using the hidden
``_metadata.file_path`` column (no driver-side file listing, no
per-file jobs — the groupBy key is the file the row came from, so the
scan stays a single job at any file count).

A file must be read for ``col BETWEEN lo AND hi`` iff its [min, max]
envelope intersects [lo, hi] — answered from the stats table alone,
O(#files) metadata work instead of O(data).  At 100 TB with ~1 GB
files that is ~100k stats rows: the stats table itself stays
broadcastable, which is exactly why file skipping scales.

Min/max are safe pruning bounds only for stable orderings; nulls are
tracked separately (a file that is all-null for the column has
min=max=null and can be skipped by null-rejecting predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_file_stats(
    df: DataFrame, cols: list[str], group_cols: list[str] | None = None
) -> DataFrame:
    """Per-file skipping stats for ``cols`` over a parquet-backed frame.

    ``df`` must come straight from a file source (``_metadata`` is
    only defined there).  Output: one row per file keyed by
    ``file_path`` (the FULL path — basenames are only unique within
    one write job's UUID, so a table assembled from several writers
    or directories could collide on basename and silently merge two
    files' envelopes), plus ``file`` (basename, display only), any
    ``group_cols`` (e.g. the Hive partition columns the file lives
    under — constant per file), ``n_rows``, and per column
    ``<c>_min``, ``<c>_max``, ``<c>_nulls``.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
    return (
        df.select(
            F.col("_metadata.file_path").alias("file_path"),
            *(group_cols or []),
            *cols,
        )
        .groupBy("file_path", *(group_cols or []))
        .agg(*aggs)
        .withColumn(
            "file", F.element_at(F.split(F.col("file_path"), "/"), -1)
        )
    )
