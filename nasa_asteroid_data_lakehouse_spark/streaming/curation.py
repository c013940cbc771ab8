"""Streaming corpus curation: continuous LM-based quality scoring.

Composes the batch corpus-statistics operators into a Structured
Streaming path: a static reference unigram LM is built once
(:func:`build_reference_lm`), and every micro-batch is scored against
it in ``foreachBatch`` (:func:`score_stream`) — the per-document
aggregation is batch-shaped, which is exactly what foreachBatch is for.
Each batch writes its own ``batch=<id>`` partition, so a replayed
batch replaces rather than duplicates its output
(:func:`read_scored` reads the latest score per document).

Per-batch cost is O(|batch|) against the O(|V|) broadcast LM table,
never O(|corpus|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from nasa_asteroid_data_lakehouse_spark.llm import corpus_stats


def build_reference_lm(
    corpus_df: DataFrame,
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """Build the static reference unigram LM a scoring stream joins
    against: (term, c) counts — localCheckpoint-ed, O(|V|) — plus the
    corpus token total.  Computed ONCE at stream start; every
    micro-batch reuses the checkpointed table (the stream-static
    pattern: the static side is fixed for the life of the query)."""
    toks = corpus_stats.token_stream(corpus_df, text_col, keep=())
    cnt = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    total = cnt.agg(F.sum("c")).collect()[0][0] or 0
    return cnt, int(total)


def surprisal_score_batch(
    batch_df: DataFrame,
    lm_counts: DataFrame,
    total: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score one (micro-)batch of documents against a STATIC reference
    LM — the out-of-corpus twin of
    :func:`~nasa_asteroid_data_lakehouse_spark.llm.corpus_stats.unigram_surprisal`
    (there the corpus scores itself; here unseen terms are possible
    and floor at count 1, the Laplace edge: their surprisal is the
    maximum ln(N)).

    Returns the batch rows plus (n_tokens, mean_surprisal).  Broadcast
    left-join against the O(|V|) LM table + one hash agg on the doc
    id: per-batch cost is O(|batch| tokens), never O(corpus).
    """
    doc_tf = (
        batch_df.where(F.trim(text_col) != "")
        .select(
            id_col,
            F.explode(
                corpus_stats.text.tokens(
                    corpus_stats.text.normalized_text(text_col)
                )
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        doc_tf.join(F.broadcast(lm_counts), "term", "left")
        .withColumn("c", F.coalesce("c", F.lit(1)))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.log(F.lit(total).cast("double"))
                - F.sum(F.col("tf") * F.log("c")) / F.sum("tf"),
                6,
            ).alias("mean_surprisal"),
        )
    )
    return batch_df.join(scored, id_col)


def score_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    reference_df: DataFrame,
    out_path: str,
    max_surprisal: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
):
    """Continuous LM-based quality scoring: every micro-batch is scored
    against the reference corpus' unigram LM (built once, checkpointed)
    and appended to ``out_path`` with its surprisal columns;
    ``max_surprisal`` optionally gates high-perplexity (boilerplate /
    gibberish) documents in-stream.

    The per-doc aggregation is a STREAMING aggregation if run inside
    the stream (unbounded state: doc ids never expire), so it runs in
    ``foreachBatch`` — batch-shaped work in the batch slot.
    Replay-safe by construction: each
    micro-batch overwrites its own ``batch=<id>`` partition directory
    under ``out_path``, so a re-delivered batch replaces rather than
    duplicates its output (the standard idempotent-append pattern for
    ``foreachBatch``).  Per-batch cost is O(|batch|) — no rescan of
    the accumulated output.  Duplicate ids WITHIN a batch are dropped
    before scoring; duplicate ids arriving in *different* source
    batches are the upstream deduper's job
    (:func:`~nasa_asteroid_data_lakehouse_spark.llm.dedup.incremental_admit`),
    not replay protection.

    Returns the unstarted ``DataStreamWriter``.  Read the result as
    ``spark.read.parquet(out_path)`` — partition discovery adds a
    ``batch`` column alongside the score columns.
    """
    lm_counts, total = build_reference_lm(reference_df, text_col)

    def score_and_append(batch_df: DataFrame, batch_id: int) -> None:
        scored = surprisal_score_batch(
            batch_df.dropDuplicates([id_col]), lm_counts, total, id_col, text_col
        )
        if max_surprisal is not None:
            scored = scored.where(F.col("mean_surprisal") <= max_surprisal)
        scored.write.mode("overwrite").parquet(f"{out_path}/batch={int(batch_id)}")

    return (
        stream_df.writeStream.foreachBatch(score_and_append)
        .option("checkpointLocation", checkpoint or f"{out_path}__checkpoint")
    )


def read_scored(
    spark: SparkSession,
    out_path: str,
    id_col: str = "doc_id",
    latest_only: bool = False,
) -> DataFrame:
    """Read back a :func:`score_stream` sink.  Partition discovery adds
    the ``batch`` column; with ``latest_only`` a doc id that was
    (legitimately) re-submitted in a LATER source batch keeps only its
    most recent score — the dedup-on-read companion for consumers that
    expect globally unique ids from a sink whose replay protection is
    per-batch, not cross-batch.  The window partitions on the id, so
    the shuffle is O(rows) on the id key and prunes nothing a consumer
    filter pushed below it.  Reading before the first batch commits
    (sink directory absent) returns an empty frame with the minimal
    score schema (id, n_tokens, mean_surprisal, batch) — the full
    schema also carries the source stream's columns, unknowable until
    a batch lands."""
    try:
        df = spark.read.parquet(out_path)
    except AnalysisException:  # no batch committed yet
        return spark.createDataFrame(
            [],
            f"{id_col} long, n_tokens bigint, mean_surprisal double, "
            "batch int",
        )
    if not latest_only:
        return df
    w = Window.partitionBy(id_col).orderBy(F.desc("batch"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
