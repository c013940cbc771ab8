"""Sorts / limits / top-k (net-new surface — SURVEY.md §2 F2).

Scale notes: ``orderBy().limit(k)`` is planned by Spark as
``TakeOrderedAndProject`` — each partition keeps its local top-k, the
driver merges k*numPartitions rows; no global sort ever happens.  The
grouped variant uses a window, which *does* shuffle by the group key —
unavoidable, but map-side partial aggregation doesn't apply to ranking,
so keep k small and project only needed columns before calling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def top_k(df: DataFrame, order_by: list[Column | str], k: int) -> DataFrame:
    """Global top-k. Planned as TakeOrderedAndProject, not a full sort."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_by: list[str],
    order_by: list[Column | str],
    k: int,
    rank_col: str = "rank",
    method: str = "row_number",
) -> DataFrame:
    """Top-k rows within each group.

    ``method``: ``row_number`` (exactly k, ties broken by order),
    ``rank`` (ties share a rank, gaps), ``dense_rank`` (ties, no gaps).
    """
    fns = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, fns[method]().over(w))
        .where(F.col(rank_col) <= k)
    )
