"""Driver-checked streaming queries (VERDICT r02 ask #6).

The driver's DuckDB oracle cannot run a stream, but it CAN check a
stream's *final materialized table* when that table is batch-
recomputable.  Each query here runs a real Structured Streaming job
in-query (file source -> foreachBatch sink -> availableNow drain,
the same machinery ``streaming/rollup.py`` tests pin), reads the
materialized result back, and returns it — the oracle recomputes the
identical table as a one-shot batch aggregate.  That promotes part of
SURVEY.md §2-I from pytest-only to driver-hash-checked, the same
trick ``versioned_table_cdf_orders`` uses for the lakehouse path.

Determinism notes: the measure column is an integer (``user_id``), so
partial-aggregate merge order cannot introduce float reduction noise;
the input is split into 4 files with ``maxFilesPerTrigger=1`` so the
run genuinely exercises multi-batch folding (4 merges + marker
commits), not a single-batch degenerate case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch

QUERIES: dict = {}
ORACLES: dict = {}


def streaming_rollup_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, event_type) rollup of the events table maintained by the
    exactly-once incremental streaming sink
    (streaming/rollup.incremental_rollup_sink: per-batch algebraic
    partials folded under the atomic applied-marker protocol), then
    read back.  Must equal the one-shot batch aggregation bit-for-bit
    — count/sum/min/max over an integer measure are mergeable with no
    order sensitivity, so any divergence is a fold/marker bug."""
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain,
        file_stream,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.rollup import (
        incremental_rollup_sink,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "event_type", "user_id")
    )

    with query_scratch("ndl_stream_rollup_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        ev.repartition(4).write.parquet(src)
        root = f"{tmp}/rollup"
        stream = file_stream(spark, ev, src)
        drain(
            spark,
            incremental_rollup_sink(
                spark, stream, root, ["day", "event_type"], "user_id"
            ),
            src,
        )
        return (
            spark.read.parquet(f"{root}/data")
            .select(
                "day",
                "event_type",
                "n_rows",
                "n_vals",
                "sum_val",
                "min_val",
                "max_val",
            )
            .orderBy("day", "event_type")
            .localCheckpoint(eager=True)
        )


STREAMING_ROLLUP_REPLAY_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(user_id) AS BIGINT) AS n_vals,
       CAST(SUM(user_id) AS BIGINT) AS sum_val,
       MIN(user_id) AS min_val,
       MAX(user_id) AS max_val
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY day NULLS FIRST, event_type NULLS FIRST
"""

QUERIES["streaming_rollup_replay_events"] = streaming_rollup_replay_events
ORACLES["streaming_rollup_replay_events"] = STREAMING_ROLLUP_REPLAY_SQL
