"""Deduplication operators (exact family).

Parity surface: the reference deduplicates with ``dropDuplicates()``
on all columns for small dims and ``dropDuplicates(keys)`` inside its
merge-upsert (reference ``src/etl/silver_to_gold.py:54,78,106``,
``src/utils/bucket.py:81``).  ``dropDuplicates(keys)`` keeps an
*arbitrary* survivor; the windowed variant here makes the survivor
deterministic, which the merge operator relies on.

Fuzzy/near-dup (MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine) live in ``llm/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def dedup_all_columns(df: DataFrame) -> DataFrame:
    """Exact full-row dedup — hash aggregate over every column."""
    return df.dropDuplicates()


def dedup_deterministic(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """Keep exactly the first row per key under ``order_by``.

    ``row_number() OVER (PARTITION BY keys ORDER BY order_by) = 1``.
    Same single shuffle as ``dropDuplicates(keys)`` but the survivor is
    well-defined — required for reproducible merges and for matching a
    SQL oracle.  Skew note: a pathologically hot key serializes into
    one task; AQE skew-join doesn't apply to window shuffles, so for
    known-skewed keys pre-aggregate or salt before calling this.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, keys: list[str]) -> DataFrame:
    """Report duplicate key groups: key columns + dup_count (>1 only)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )
