"""Round-5 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

The batch gives the multimodal binary-payload path (llm/multimodal.py)
its driver-checkable surface, per VERDICT r03 ask #6: payloads are
opaque ``binary`` columns (here materialized from text via
``encode(text,'UTF-8')`` — the same column type real media bytes get),
and every query keeps the bytes in their parquet row groups: only
(group, digest, length) or per-row scalar features ever shuffle.

Oracle portability notes (docs/ROUND_NOTES.md rules applied):
DuckDB ``md5(VARCHAR)`` / ``sha256(VARCHAR)`` hash the UTF-8 bytes, so
they equal Spark ``md5/sha2(encode(text,'UTF-8'))`` (probe-verified in
round 4, BASELINE.md); integer SUM/COUNT are CAST AS BIGINT; NULL text
(failed fetch) propagates NULL payloads which join no dedup group and
carry NULL features (the round-4b contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.llm import multimodal as mm

QUERIES: dict = {}
ORACLES: dict = {}


# --- exact payload dedup accounting per source --------------------------------


def payload_dedup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup accounting per source: total payloads,
    distinct payloads, duplicate ratio, and the bytes a keep-one dedup
    pass reclaims (llm/multimodal.py: payload_dedup_stats).

    Scale shape: sha2(payload,256) runs in whole-stage codegen over the
    scan, so only (source, 32-byte digest, length) rows shuffle — the
    media bytes never leave their row groups.  Two hash aggregations,
    no joins.  NULL payloads (failed fetches) hash to NULL and are
    excluded: no bytes to reclaim."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pl = mm.with_binary_payload(docs, "text")
    return mm.payload_dedup_stats(pl, "payload", ("source",)).orderBy("source")


PAYLOAD_DEDUP_SQL = """
WITH per AS (
  SELECT source, md5(text) AS sha,
         CAST(COUNT(*) AS BIGINT) AS c,
         MIN(octet_length(encode(text))) AS len
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_payloads,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_ratio,
       CAST(SUM((c - 1) * len) AS BIGINT) AS dup_bytes
FROM per GROUP BY source ORDER BY source
"""

QUERIES["payload_dedup_sources"] = payload_dedup_sources
ORACLES["payload_dedup_sources"] = PAYLOAD_DEDUP_SQL


# --- keep-one-survivor payload dedup ------------------------------------------


def payload_survivors_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-survivor exact payload dedup over the binary column:
    the lowest doc_id per distinct digest survives; NULL payloads pass
    through untouched (dedup removes duplicates, never payload-less
    rows).  One shuffle on the digest, survivor rows re-selected by a
    doc_id semi-join — payload bytes never shuffle
    (llm/multimodal.py: payload_survivors).  Output projects scalar
    features only (binary columns don't value-hash portably)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pl = mm.with_binary_payload(docs, "text")
    surv = mm.payload_survivors(pl, "doc_id", "payload")
    return surv.select(
        "doc_id",
        "source",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
    ).orderBy("doc_id")


PAYLOAD_SURVIVORS_SQL = """
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents WHERE text IS NOT NULL
  GROUP BY md5(text)
)
SELECT d.doc_id, d.source,
       CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM keep) OR d.text IS NULL
ORDER BY doc_id
"""

QUERIES["payload_survivors_documents"] = payload_survivors_documents
ORACLES["payload_survivors_documents"] = PAYLOAD_SURVIVORS_SQL


# --- deterministic frame-sampling manifest ------------------------------------


def frame_sample_manifest_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic video-frame sampling PLAN: treat each document as
    a clip with ``n_frames = n_chars % 240 + 1`` synthetic frames and
    emit the evenly-strided sample of up to 8 frame indices per clip —
    ``frame_idx = floor(i * n_frames / k)``, the manifest a decode
    stage (llm/multimodal.py: sample_frames) would fetch.  The decode
    itself stays stubbed (no codecs in this container); the manifest
    math, schema, and row explosion are the real Spark-side plumbing.

    Scale shape: one narrow projection + explode(sequence()) — no
    shuffle at all; the manifest can feed a decode ``mapInPandas``
    partition-locally.  k >= 1 always (n_frames >= 1), so the division
    needs no zero guard; negative n_chars rows (never produced, but a
    descending sequence would diverge from range()) are filtered on
    both sides."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .where(F.col("n_chars").isNotNull() & (F.col("n_chars") >= 0))
    )
    n_frames = (F.col("n_chars") % 240 + 1).cast("bigint")
    v = docs.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.least(n_frames, F.lit(8)).cast("bigint").alias("k"),
    )
    ex = v.select(
        "doc_id",
        "n_frames",
        "k",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("k") - 1)
        ).alias("frame_i"),
    )
    return ex.select(
        "doc_id",
        "n_frames",
        "frame_i",
        F.floor(
            (F.col("frame_i") * F.col("n_frames")).cast("double") / F.col("k")
        )
        .cast("bigint")
        .alias("frame_idx"),
    ).orderBy("doc_id", "frame_i")


FRAME_SAMPLE_SQL = """
WITH v AS (
  SELECT doc_id,
         CAST(n_chars % 240 + 1 AS BIGINT) AS n_frames,
         CAST(LEAST(n_chars % 240 + 1, 8) AS BIGINT) AS k
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0
),
ex AS (SELECT doc_id, n_frames, k, unnest(range(k)) AS frame_i FROM v)
SELECT doc_id, n_frames, CAST(frame_i AS BIGINT) AS frame_i,
       CAST(FLOOR(CAST(frame_i * n_frames AS DOUBLE) / k) AS BIGINT)
         AS frame_idx
FROM ex
ORDER BY doc_id, frame_i
"""

QUERIES["frame_sample_manifest_documents"] = frame_sample_manifest_documents
ORACLES["frame_sample_manifest_documents"] = FRAME_SAMPLE_SQL


# --- streaming surprisal scoring replay ----------------------------------------


def streaming_score_replay_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus scored by the CONTINUOUS quality-scoring
    sink (streaming/curation.score_stream: per-micro-batch surprisal
    vs a static reference LM, idempotent batch=<id> partition
    overwrite), replayed over a 4-file stream and read back with the
    dedup-on-read companion — must equal the one-shot batch
    unigram-surprisal query bit-for-bit.  Per-doc scores are
    batch-composition independent (the LM is static), so any
    divergence is a sink/replay bug, the same argument
    streaming_rollup_replay_events makes for the fold protocol.

    KEY-UNIQUE PRECONDITION (same contract as dup_span_coverage):
    score_stream dedups ids within a batch by design — duplicate ids
    across source batches are the upstream deduper's job — so the
    --const fixture's 50 copies score once while a batch engine counts
    tokens 50x.  driver_sim skips it under --const.
    """
    from nasa_asteroid_data_lakehouse_spark.streaming.curation import (
        read_scored,
        score_stream,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain,
        file_stream,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    with query_scratch("ndl_stream_score_", sf_dir, "documents") as tmp:
        src = f"{tmp}/in"
        docs.repartition(4).write.parquet(src)
        out = f"{tmp}/scored"
        stream = file_stream(spark, docs, src)
        drain(spark, score_stream(spark, stream, docs, out), src)
        return (
            read_scored(spark, out, latest_only=True)
            .select("doc_id", "n_tokens", "mean_surprisal")
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )


# the batch twin's oracle IS the contract: the streamed scores must
# hash-equal the one-shot corpus query (plans/llm_queries.py)
from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (  # noqa: E402
    UNIGRAM_SURPRISAL_SQL as _UNIGRAM_SQL,
)

QUERIES["streaming_score_replay_documents"] = streaming_score_replay_documents
ORACLES["streaming_score_replay_documents"] = _UNIGRAM_SQL


# --- Matryoshka dimension-truncation recall ------------------------------------

_TDR_ANCHOR_MAX = 25
_TDR_K = 10
_TDR_DIMS = 16


def truncated_dim_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@10 between top-k by first-16-dimension cosine and top-k
    by full 64-dimension cosine (llm/similarity.truncated_dim_recall)
    — the Matryoshka-truncation audit an embedding store runs before
    serving ANN from a 4x-smaller prefix index."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.truncated_dim_recall(
        emb, anchor_max_id=_TDR_ANCHOR_MAX, k=_TDR_K, dims_keep=_TDR_DIMS
    )


TRUNCATED_DIM_RECALL_SQL = f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         list_slice(embedding::DOUBLE[], 1, {_TDR_DIMS}) AS tv
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
n AS (
  SELECT id, v, tv,
         sqrt(list_dot_product(v, v)) AS nrm,
         sqrt(list_dot_product(tv, tv)) AS tnrm
  FROM base
),
pairs AS (
  SELECT a.id AS anchor_id, b.id AS nbr,
    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos,
    ROUND(list_dot_product(a.tv, b.tv) / (a.tnrm * b.tnrm), 6) AS tcos
  FROM n a JOIN n b ON a.id <> b.id
  WHERE a.id < {_TDR_ANCHOR_MAX}
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_TDR_K}
),
trunc AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY tcos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_TDR_K}
),
hits AS (
  SELECT e.anchor_id, COUNT(*) AS n_hits
  FROM exact e JOIN trunc q ON q.anchor_id = e.anchor_id AND q.nbr = e.nbr
  GROUP BY 1
),
ex AS (SELECT anchor_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT ex.anchor_id AS anchor_id, n_exact,
       COALESCE(n_hits, 0) AS n_hits,
       ROUND(COALESCE(n_hits, 0) / LEAST({_TDR_K}, n_exact), 6) AS overlap_at_k
FROM ex LEFT JOIN hits ON ex.anchor_id = hits.anchor_id
"""

QUERIES["truncated_dim_recall_embeddings"] = truncated_dim_recall_embeddings
ORACLES["truncated_dim_recall_embeddings"] = TRUNCATED_DIM_RECALL_SQL


# --- DELETE WHERE through the lakehouse path ------------------------------------


def versioned_table_delete_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DELETE through the lakehouse path: build a
    VersionedTable from orders, ``delete_where(o_orderkey % 7 == 0)``
    (bucket-pruned rewrite), then summarize the v1 -> v2 change feed —
    the delete branch of the CDF, driver-hash-checked the same way
    versioned_table_cdf_orders checks insert/update.  The predicate is
    KEY-based on purpose: membership in the delete set is then
    independent of which duplicate-key payload survived create's
    merge, so the oracle can recompute it from the raw table
    (key-only DISTINCT — the same trick the upsert CDF oracle uses).
    NULL keys never match (NULL % 7 is NULL, SQL DELETE keeps
    NULL-predicate rows) on both engines."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with query_scratch("ndl_vtdel_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v1 = t.create(orders, keys=["o_orderkey"])
        v2 = t.delete_where(F.col("o_orderkey") % 7 == 0)
        return (
            t.changes(from_version=v1, to_version=v2)
            .groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .orderBy("_change_type")
            .localCheckpoint(eager=True)
        )


VT_DELETE_CDF_SQL = """
-- key-only DISTINCT mirrors the table's one-row-per-key invariant;
-- the key-based predicate makes the delete set payload-independent
WITH del AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
)
SELECT 'delete' AS _change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM del
HAVING COUNT(*) > 0
"""

QUERIES["versioned_table_delete_cdf_orders"] = versioned_table_delete_cdf_orders
ORACLES["versioned_table_delete_cdf_orders"] = VT_DELETE_CDF_SQL


# --- IVF cell-probing recall ----------------------------------------------------

_IVFR_ANCHOR_MAX = 25
_IVFR_K = 10
_IVFR_NPROBE = 2
_IVFR_CENTROIDS = 8

_VOK = (
    "embedding IS NOT NULL AND len(list_filter(embedding, "
    "x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
)


def ivf_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 2-cell IVF probing vs the exact ranking, per anchor
    (llm/similarity.ivf_recall) — completes the measured recall
    triptych (LSH: ann_recall, int8: quantized_recall, IVF: here).
    Seed quantizer (8 lowest valid ids, kmeans iters=0) keeps the
    oracle SQL-expressible, same contract as ivf_topk_embeddings."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = similarity.seed_centroids(emb, _IVFR_CENTROIDS) or [[0.0]]
    return similarity.ivf_recall(
        emb,
        centroids,
        anchor_max_id=_IVFR_ANCHOR_MAX,
        k=_IVFR_K,
        nprobe=_IVFR_NPROBE,
    )


IVF_RECALL_SQL = f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, cv FROM (
    SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    WHERE {_VOK} ORDER BY vec_id LIMIT {_IVFR_CENTROIDS})
),
valid AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VOK}
),
assign AS (
  SELECT id, v, c FROM (
    SELECT e.id, e.v, s.c,
      row_number() OVER (
        PARTITION BY e.id ORDER BY list_distance(e.v, s.cv), s.c
      ) AS rn
    FROM valid e, seeds s) t
  WHERE rn = 1
),
anchors AS (SELECT id AS anchor_id, v AS av FROM valid
            WHERE id < {_IVFR_ANCHOR_MAX}),
probe AS (
  SELECT anchor_id, c FROM (
    SELECT a.anchor_id, s.c,
      row_number() OVER (
        PARTITION BY a.anchor_id ORDER BY list_distance(a.av, s.cv), s.c
      ) AS rn
    FROM anchors a, seeds s) t
  WHERE rn <= {_IVFR_NPROBE}
),
pairs AS (
  SELECT a.anchor_id, b.id AS nbr, b.c AS cluster,
    ROUND(list_dot_product(a.av, b.v)
          / (sqrt(list_dot_product(a.av, a.av))
             * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM anchors a JOIN assign b ON a.anchor_id <> b.id
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_IVFR_K}
),
approx AS (
  SELECT anchor_id, nbr FROM (
    SELECT p.anchor_id, p.nbr,
      row_number() OVER (PARTITION BY p.anchor_id
                         ORDER BY p.cos DESC, p.nbr ASC) AS rk
    FROM pairs p JOIN probe pr
      ON p.anchor_id = pr.anchor_id AND p.cluster = pr.c) t
  WHERE rk <= {_IVFR_K}
),
hits AS (
  SELECT e.anchor_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx q ON q.anchor_id = e.anchor_id AND q.nbr = e.nbr
  GROUP BY 1
),
ex AS (SELECT anchor_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT ex.anchor_id AS anchor_id, n_exact,
       COALESCE(n_hits, 0) AS n_hits,
       ROUND(COALESCE(n_hits, 0) / LEAST({_IVFR_K}, n_exact), 6) AS recall_at_k
FROM ex LEFT JOIN hits ON ex.anchor_id = hits.anchor_id
"""

QUERIES["ivf_recall_embeddings"] = ivf_recall_embeddings
ORACLES["ivf_recall_embeddings"] = IVF_RECALL_SQL


# --- streaming session-window replay ---------------------------------------------


def streaming_session_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute session windows maintained by a REAL
    Structured Streaming job (withWatermark + session_window, append
    mode) over a time-ordered 4-file replay, read back and
    hash-checked against the batch gaps-and-islands oracle — the third
    streaming replay (rollup: algebraic fold; score: stream-static
    join; here: WATERMARK-EXPIRED MERGING STATE, the semantics the
    other two don't touch).

    Determinism engineering, in order of importance:
    * batches are TIME-QUARTILE ordered and written sequentially as
      single files (coalesce(1), mode=append), so the file source's
      oldest-first processing can never drop a "late" event — batch
      b+1's minimum ts >= batch b's maximum, and the 1-minute
      watermark delay covers boundary ties;
    * a per-user SENTINEL event 30 days after the corpus max drives
      the final watermark past every real session (append mode emits a
      session only when the watermark passes its end) while the
      sentinel sessions themselves never emit — they self-exclude;
    * sum_value re-rounds to the 6-decimal lattice on read-back, the
      same absorption the batch query relies on across engines.
    """
    from datetime import timedelta

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        # watermarks reject TIMESTAMP_NTZ; the session is UTC-pinned so
        # the LTZ cast is value-identical (cast back on read-out)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    )
    out_schema = (
        "user_id bigint, session_start timestamp, session_end timestamp, "
        "n_events bigint, sum_value double"
    )
    max_row = ev.agg(F.max("ts").alias("m")).collect()[0]
    if max_row["m"] is None:  # zero events: stay total
        return spark.createDataFrame([], out_schema)
    sentinel_ts = max_row["m"] + timedelta(days=30)

    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain_to_parquet,
        file_stream,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.tuning import (
        write_time_quartile_batches,
    )

    with query_scratch("ndl_stream_sess_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        # time-quartile batch assignment via percentile CUTS, not a
        # global NTILE window (an unpartitioned rank-all window is the
        # module's banned scale shape — the cuts are one aggregation
        # and the assignment is embarrassingly parallel); batches are
        # written in ONE job with pinned, strictly increasing mtimes
        # (streaming/tuning.py) — the sentinel file below is written
        # afterwards with a present-day mtime, so it still drains LAST.
        write_time_quartile_batches(ev, src)
        (
            ev.select("user_id")
            .distinct()
            .select(
                "user_id",
                F.lit(sentinel_ts).alias("ts"),
                F.lit(None).cast("double").alias("value"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

        sessions = (
            file_stream(spark, ev, src)
            .withWatermark("ts", "1 minute")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )
        got = drain_to_parquet(spark, sessions, f"{tmp}/sessions", src)
        return (
            got.select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                F.round("sum_value", 6).alias("sum_value"),
            )
            .orderBy("user_id", "session_start")
            .localCheckpoint(eager=True)
        )


from nasa_asteroid_data_lakehouse_spark.plans.analytics_queries import (  # noqa: E402
    NATIVE_SESSION_SQL as _NATIVE_SESSION_SQL,
)

QUERIES["streaming_session_replay_events"] = streaming_session_replay_events
ORACLES["streaming_session_replay_events"] = _NATIVE_SESSION_SQL
