"""Structured Streaming mirror of the engine's batch patterns.

The reference's incrementality model is daily batch micro-ingest
(Airflow ``@daily`` + per-day files + merge-dedup upsert — SURVEY.md
§2 I).  This module expresses the same semantics as streams over
event-shaped data:

* ``windowed_counts`` — tumbling event-time windows + watermark
  (late data handled by the watermark instead of the daily partition);
* ``stream_dedup`` — ``dropDuplicates`` within the watermark
  (the streaming form of the merge's key dedup);
* ``merge_sink`` — ``foreachBatch`` upsert into a parquet table via the
  same ``save_or_update_table`` the batch pipeline uses, making the
  lake table the meeting point of batch and streaming writers;
* ``sessionize`` — ``applyInPandasWithState`` custom stateful operator
  (session windows with gap timeout), the pattern for operators the
  built-in window functions can't express.

Tests drive these with file-source streams + ``trigger(availableNow)``
and assert stream results equal the batch computation on the same data.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
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


def windowed_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window event counts + value sums per event_type.

    Watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted.  Works identically on batch
    DataFrames (window() is the same expression) — tests exploit that.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "1 day") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon — the streaming
    equivalent of the merge's key dedup (bounded state, unlike batch
    dropDuplicates which would keep all keys forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def merge_sink(
    spark: SparkSession,
    stream_df: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint: str | None = None,
):
    """foreachBatch merge-upsert sink: every micro-batch runs the same
    deterministic merge the batch pipeline uses, so replays/duplicates
    collapse idempotently on the business keys."""
    from nasa_asteroid_data_lakehouse_spark.operators.merge import (
        save_or_update_table,
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        save_or_update_table(spark, batch_df, table_path, keys)

    return (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint or f"{table_path}__checkpoint")
        .trigger(availableNow=True)
    )


SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
    ]
)


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: session windows with an inactivity gap.

    ``applyInPandasWithState`` keeps one (start, end, count) state per
    user; a completed session is emitted when a later batch shows a gap
    larger than ``gap_minutes``.  Sessions still open at end-of-stream
    stay in state (flushed on the next incremental run) — timeout-based
    flushing is avoided because processing-time timeouts do not fire
    under availableNow triggers (the drain-and-stop mode tests use).
    This is the extension point for operators Spark's built-ins can't
    express (reference has nothing comparable; included as the
    'custom stateful streaming operator' capability).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_us, count = [], 0
        for pdf in pdfs:
            count += len(pdf)
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        if not ts_us:
            return
        lo, hi = min(ts_us), max(ts_us)

        sessions = []
        if state.exists:
            start_us, end_us, n = state.get
            if lo - end_us > gap_us:
                sessions.append((start_us, end_us, n))
                state.update((lo, hi, count))
            else:
                state.update((min(start_us, lo), max(end_us, hi), n + count))
        else:
            state.update((lo, hi, count))

        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                    "n_events": [n for _, _, n in sessions],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
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
