"""Scale-adaptive shuffle sizing for Structured Streaming replays.

AQE does not apply to streaming micro-batches: every stateful operator
(stream-stream join, windowed aggregate, dropDuplicatesWithinWatermark,
applyInPandasWithState) shuffles into exactly ``spark.sql.shuffle.partitions``
partitions, and that number is frozen into the checkpoint's state-store
layout at query start.  Each state partition costs a task PLUS a
state-store commit (delta file + CRC + fsync) per micro-batch per store
— a stream-stream join keeps four stores per partition — so a
partition count sized for batch parallelism multiplies into hundreds
of fsync-bound file commits per micro-batch while each partition holds
a few kilobytes of state (guide §2.2: fewer, larger partitions; §2.4:
this is the streaming stand-in for AQE partition coalescing).

Measured at sf0.1 (local[32], 5-batch availableNow replays): the
stream-stream FULL OUTER replay drops 47 s -> 9 s and the interval
join 20 s -> 5 s when state partitions go 32 -> 4; at 100 TB the same
formula keeps the session's configured partition count because the
per-batch input is large.

``scaled_stream_shuffle`` derives the partition count from the actual
bytes the replay will stream (the batch files/table it just wrote), so
the setting is data-adaptive, not tuned to either local mode or a
cluster:  ``clamp(ceil(bytes / bytes_per_partition), floor, session)``.
The session value is restored after the stream drains — batch plans in
the same query keep their AQE-coalesced sizing.  Every plans replay
drains through ``streaming.replay.drain``, which always applies it
(the session-window replay also measured 39 s -> 6 s at sf0.1 with
32 -> scaled partitions); stateless replays (stream-static enrich, the
CDF subscription) pay nothing for it.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# 16 MB of source bytes per state partition: small enough that a
# production micro-batch (GBs per trigger) still fans out across the
# cluster, large enough that a replay over MBs does not pay hundreds
# of per-partition state-store commits.
BYTES_PER_STATE_PARTITION = 16 << 20

# Never drop below 2: state-store commit latency overlaps across
# partitions, and a single partition serializes the per-batch fsyncs.
MIN_STATE_PARTITIONS = 2


def dir_bytes(*paths: str) -> int:
    """Total size of all regular files under the given paths."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            continue
        for root, _dirs, files in os.walk(p):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    continue
    return total


def stream_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Scale-adaptive state-partition count, capped at the session's
    configured ``spark.sql.shuffle.partitions`` (the cluster-sized
    value is the ceiling, never exceeded)."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    scaled = max(
        MIN_STATE_PARTITIONS,
        math.ceil(input_bytes / BYTES_PER_STATE_PARTITION),
    )
    return min(session_parts, scaled)


def write_time_quartile_batches(
    df,
    path: str,
    ts_col: str = "ts",
    base_mtime: int = 1_000_000_000,
) -> None:
    """Write ``df`` as four TIME-QUARTILE parquet batch files with
    strictly increasing, pinned mtimes — the deterministic replay
    input the watermark-sensitive streaming queries use — in ONE Spark
    job.

    The original per-query form ran four sequential ``coalesce(1)``
    append jobs per side (plus the mtime stamping); at replay scale
    that is 4x the job/commit overhead for the same files (guide §2.4:
    one exchange keyed by the batch id replaces four passes).  Here the
    quartile id is computed once, the frame is hash-repartitioned on it
    (all rows of a batch land in one task — exactly one file per
    non-empty batch), and a dynamic ``partitionBy`` writes every batch
    file in a single job; the files are then moved into ``path`` with
    the same strictly increasing mtimes the per-query form pinned
    (FileStreamSource orders by mtime; ADVICE r08).  Batch contents are
    identical to the sequential form — same percentile cuts, same
    assignment expression; only row order inside a file may differ,
    which no replay semantics observe (watermarks see per-batch max
    event time, outputs are aggregated or key-derived).

    Quartiles emptied by degenerate data (all-equal timestamps) write
    no file; the sequential form wrote an empty parquet file whose
    zero-row batch advanced nothing, so the drained result is the
    same.
    """
    import shutil

    from pyspark.sql import functions as F

    cut_row = df.agg(
        F.expr(
            f"percentile(cast({ts_col} as double), array(0.25, 0.5, 0.75))"
        ).alias("cs")
    ).collect()[0]
    cuts = list(cut_row["cs"]) if cut_row["cs"] is not None else []
    b_col = F.lit(1)
    for c in cuts:
        b_col = b_col + F.when(
            F.col(ts_col).cast("double") > F.lit(c), 1
        ).otherwise(0)
    staging = path + ".__stage__"
    (
        df.withColumn("__b", b_col)
        .repartition("__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(staging)
    )
    os.makedirs(path, exist_ok=True)
    for b in range(1, 5):
        bdir = os.path.join(staging, f"__b={b}")
        if not os.path.isdir(bdir):
            continue
        mtime = base_mtime + 10 * b
        for name in sorted(os.listdir(bdir)):
            if name.startswith("part-") and name.endswith(".parquet"):
                dst = os.path.join(path, f"part-b{b}-{name[5:]}")
                shutil.move(os.path.join(bdir, name), dst)
                os.utime(dst, (mtime, mtime))
    shutil.rmtree(staging, ignore_errors=True)


@contextmanager
def scaled_stream_shuffle(spark: SparkSession, *paths: str, input_bytes: int | None = None):
    """Temporarily size ``spark.sql.shuffle.partitions`` from the
    replay's input bytes while a streaming query starts and drains.

    The conf is read at stream start (it fixes the state-store layout
    for the checkpoint's lifetime); restoring it after the drain leaves
    every batch plan in the enclosing query untouched.

    SINGLE-WRITER ASSUMPTION (ADVICE r11 #2): this mutates the
    session-global conf for the duration of the drain, so any
    concurrent query or second stream on the same SparkSession inside
    the window would silently inherit the reduced partition count, and
    nested/overlapping uses would restore stale values.  The bench and
    driver harness run queries strictly sequentially; a deployment that
    runs concurrent streams should give each stream its own
    ``spark.newSession()`` (per-session conf) instead of this context.
    """
    n_bytes = input_bytes if input_bytes is not None else dir_bytes(*paths)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_partitions(spark, n_bytes))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
