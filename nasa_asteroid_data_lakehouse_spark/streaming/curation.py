"""Streaming corpus curation: continuous document admission.

Composes the batch curation operators into a Structured Streaming
ingest path:

* the stateless quality gate
  (:func:`~nasa_asteroid_data_lakehouse_spark.llm.curation.quality_filter_stateless`)
  runs INSIDE the stream — pure projection, no state, no watermark;
* near-duplicate screening against everything already admitted runs in
  ``foreachBatch`` via
  :func:`~nasa_asteroid_data_lakehouse_spark.llm.dedup.incremental_admit`
  — the corpus-vs-batch screen is inherently batch-shaped (it reads
  the admitted table), which is exactly what foreachBatch is for.

Each micro-batch is therefore: gate (streaming) -> screen vs corpus
(batch join) -> append admitted rows.  Replayed batches re-admit the
same rows idempotently because admission is a pure function of
(corpus, batch) and appends are keyed by doc id through the same
deterministic merge the batch pipeline uses.

At scale the admitted corpus keeps its band-bucket table persisted
(computed once per admitted doc), so each micro-batch shuffles only
the new documents — the streaming cost per batch is O(|batch|), not
O(|corpus|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from nasa_asteroid_data_lakehouse_spark.llm import corpus_stats, curation, dedup


def admit_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    checkpoint: str | None = None,
):
    """Continuous curation sink: quality-gate the stream, then per
    micro-batch admit only documents that are not near-duplicates of
    the already-admitted corpus, appending them to ``table_path``.

    The gate preserves input columns, so gating is a genuine
    stateless projection + filter on the stream — no join, no state,
    no watermark.  The corpus probe reads through Spark (not the
    driver's local filesystem), so object-store / HDFS table paths
    keep their near-dup screen and replay protection.

    Returns the unstarted ``DataStreamWriter`` (callers pick the
    trigger and call ``start()``), matching ``merge_sink``'s shape.
    """
    in_cols = list(stream_df.columns)
    gated = (
        curation.quality_filter_stateless(stream_df, id_col, text_col)
        .where(F.col("keep"))
        .select(*in_cols)
    )

    def screen_and_append(batch_df: DataFrame, batch_id: int) -> None:
        try:
            corpus = spark.read.parquet(table_path)
        except AnalysisException:  # first batch: no table yet
            corpus = None
        admitted = dedup.incremental_admit(
            corpus if corpus is not None else batch_df.limit(0),
            batch_df,
            id_col,
            text_col=text_col,
            jaccard_threshold=jaccard_threshold,
        )
        if corpus is not None:
            # replay safety: a re-delivered doc id is already in the
            # corpus; drop it before appending
            admitted = admitted.join(
                corpus.select(id_col), id_col, "left_anti"
            )
        admitted.write.mode("append").parquet(table_path)

    return (
        gated.writeStream.foreachBatch(screen_and_append)
        .option("checkpointLocation", checkpoint or f"{table_path}__checkpoint")
    )


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
    ``foreachBatch`` — batch-shaped work in the batch slot, the same
    split ``admit_stream`` uses.  Replay-safe by construction: each
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
    a batch lands; same no-table-yet totality as the module's other
    sinks."""
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
