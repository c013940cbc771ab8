"""Structured Streaming mirror of the engine's batch patterns.

The reference's incrementality model is daily batch micro-ingest
(Airflow ``@daily`` + per-day files + merge-dedup upsert — SURVEY.md
§2 I).  This module expresses the same semantics as streams over
event-shaped data:

* ``read_event_stream`` — file-source stream over an events directory;
* ``interval_join_streams`` — stream-stream event-time interval join
  with watermarks on both sides (bounded join state);
* ``enrich_with_dim`` — stream-static join against a dimension table.

Tests drive these with file-source streams + ``trigger(availableNow)``
and assert stream results equal the batch computation on the same data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "parquet", max_files_per_trigger: int = 10
) -> DataFrame:
    """File-source stream over an events directory (the Auto-Loader-ish
    incremental-listing pattern; at scale swap for Kafka with the same
    downstream graph)."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_gap: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: each right-side event
    matches left-side events of the same key that happened within
    ``max_gap`` BEFORE it (click → purchase attribution, the streaming
    twin of the batch ``purchases_after_clicks`` range join).

    Both sides carry watermarks and the join condition bounds event
    time in both directions — that pair of constraints is what lets
    Spark evict join state: without them a stream-stream join buffers
    forever (the canonical unbounded-state bug).  State per key is
    O(events within the gap window), independent of stream length.

    Output columns are prefixed ``l_`` / ``r_`` (a self-join on the
    events schema would otherwise collide).
    """
    l = left.withWatermark(ts_col, watermark).select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    r = right.withWatermark(ts_col, watermark).select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{ts_col}") > F.col(f"l_{ts_col}"))
        & (
            F.col(f"r_{ts_col}")
            <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {max_gap.upper()}")
        )
    )
    return l.join(r, cond, how)


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension table — the most common streaming join in practice
    (events -> user/product attributes).

    The static side needs NO watermark and holds NO join state: Spark
    re-plans it per micro-batch, so a broadcast dim costs one broadcast
    per batch and zero shuffle on the stream side — the stream's
    partitioning is untouched.  ``broadcast_dim=False`` for dims too
    big to broadcast (the stream then shuffles on the key each batch;
    prefer pre-bucketing the dim in that regime).  Left join keeps
    events whose key is missing from the dim (late dim arrival) rather
    than silently dropping them — flag them downstream with
    ``dim_matched``.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    joined = stream.join(d.withColumn("__dim_hit", F.lit(1)), keys, how)
    return joined.withColumn(
        "dim_matched", F.col("__dim_hit").isNotNull()
    ).drop("__dim_hit")
