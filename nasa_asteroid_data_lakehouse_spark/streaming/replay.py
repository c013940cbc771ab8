"""One source, one drain and one parquet sink for in-query stream replays.

A replay query writes its input as parquet files, streams them back one
file per micro-batch, drains the stream with ``Trigger.AvailableNow``
and reads the materialized result, which the batch oracle recomputes.
Every such replay sizes its watermark to the replayed span or feeds
time-ordered batches, so no in-span row may ever be evicted or arrive
late.  :func:`drain` checks that at run time: a stateful operator that
dropped a row behind its watermark makes the drain raise instead of
returning a silently short answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from nasa_asteroid_data_lakehouse_spark.streaming.tuning import scaled_stream_shuffle


def file_stream(spark: SparkSession, df: DataFrame, src: str) -> DataFrame:
    """Stream the parquet files under ``src`` (written from ``df``)
    with ``df``'s schema, one file per micro-batch."""
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    *sized_by: str,
    path: str | None = None,
) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow``, wait until it has
    consumed all input, and fail if any micro-batch dropped rows behind
    a watermark.

    The shuffle/state partition count is sized from the bytes under
    ``sized_by`` (:func:`streaming.tuning.scaled_stream_shuffle`).  The
    drop check reads ``stateOperators[].numRowsDroppedByWatermark`` of
    every progress the query retains
    (``spark.sql.streaming.numRecentProgressUpdates``, 100 by default,
    well above any replay's batch count)."""
    with scaled_stream_shuffle(spark, *sized_by):
        q = writer.trigger(availableNow=True).start(path)
        q.awaitTermination()
    dropped = sum(
        op.numRowsDroppedByWatermark
        for progress in q.recentProgress
        for op in progress.stateOperators
    )
    if dropped:
        raise RuntimeError(
            f"stream replay dropped {dropped} row(s) behind its watermark; "
            "the replayed span must fit the watermark"
        )


def drain_to_parquet(
    spark: SparkSession, stream: DataFrame, out: str, *sized_by: str
) -> DataFrame:
    """Drain ``stream`` in append mode into a parquet file sink at
    ``out`` (checkpoint beside it) and read the sink back with the
    stream's schema.  The sink always writes its ``_spark_metadata``
    log, so an input with no rows reads back as 0 rows rather than
    failing schema inference."""
    drain(
        spark,
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{out}.ckpt")
        .format("parquet"),
        *sized_by,
        path=out,
    )
    return spark.read.schema(stream.schema).parquet(out)
