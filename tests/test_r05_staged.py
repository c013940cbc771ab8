"""Pins for the round-5 query batch (plans/r05_queries.py) —
gate-verified in round 4, registered at round-5 start once
CORRECTNESS_r04 confirms the frozen 190-surface.  These tests keep the
staged queries green in the meantime."""

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import r05_queries as r5

SF = "/root/testdata/sf0.001"


def test_staged_registry_shape():
    assert set(r5.QUERIES) == set(r5.ORACLES)
    assert len(r5.QUERIES) == 8


def test_payload_dedup_sources(spark):
    out = r5.payload_dedup_sources(spark, SF).collect()
    assert out  # one row per source
    for r in out:
        assert r["n_distinct"] <= r["n_payloads"]
        assert 0.0 <= r["dup_ratio"] <= 1.0
        assert r["dup_bytes"] >= 0


def test_payload_survivors_matches_dedup_accounting(spark):
    stats = r5.payload_dedup_sources(spark, SF).collect()
    n_distinct_total = sum(r["n_distinct"] for r in stats)
    surv = r5.payload_survivors_documents(spark, SF)
    # survivors = one per distinct payload + every NULL-payload row
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_null = docs.where(F.col("text").isNull()).count()
    assert surv.count() == n_distinct_total + n_null
    # survivor ids are unique (one row per distinct payload)
    ids = [r["doc_id"] for r in surv.select("doc_id").collect()]
    assert len(ids) == len(set(ids))


def test_frame_sample_manifest_bounds(spark):
    out = r5.frame_sample_manifest_documents(spark, SF)
    rows = out.collect()
    assert rows
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, frames in by_doc.items():
        k = len(frames)
        assert 1 <= k <= 8
        idxs = [f["frame_idx"] for f in sorted(frames, key=lambda f: f["frame_i"])]
        n = frames[0]["n_frames"]
        assert all(0 <= i < n for i in idxs)
        assert idxs == sorted(idxs)  # strided sample is monotone
        assert idxs[0] == 0  # always includes the first frame


def test_streaming_score_replay_equals_batch(spark):
    """The streamed surprisal scores equal the one-shot batch query's
    row-for-row (the LM is static, so per-doc scores are
    batch-composition independent — any divergence is a sink bug)."""
    from nasa_asteroid_data_lakehouse_spark.llm import corpus_stats

    streamed = {
        r["doc_id"]: r
        for r in r5.streaming_score_replay_documents(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    batch = {
        r["doc_id"]: r for r in corpus_stats.unigram_surprisal(docs).collect()
    }
    assert set(streamed) == set(batch)
    for d, r in streamed.items():
        assert r["n_tokens"] == batch[d]["n_tokens"]
        assert r["mean_surprisal"] == batch[d]["mean_surprisal"]


def test_streaming_session_replay_equals_batch(spark):
    """The watermark-driven streaming session table equals the batch
    native session_window aggregation row-for-row (sentinel flush
    emits every real session; sentinel sessions never emit)."""
    from pyspark.sql import functions as F

    streamed = r5.streaming_session_replay_events(spark, SF)
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("ts").isNotNull())
    )
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )
    key = lambda r: (r["user_id"], r["session_start"])
    srows = {key(r): r for r in streamed.collect()}
    brows = {key(r): r for r in batch.collect()}
    assert set(srows) == set(brows) and srows
    for k, r in srows.items():
        assert r["n_events"] == brows[k]["n_events"]
        assert r["session_end"] == brows[k]["session_end"]
        assert r["sum_value"] == brows[k]["sum_value"]


def test_ivf_recall_bounds(spark):
    """nprobe = all cells must be a perfect recall (the probe set is
    then the whole corpus); nprobe=1 is bounded by it."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = emb.orderBy("vec_id").limit(4).collect()
    cents = [[float(v) for v in r["embedding"]] for r in seeds]
    full = similarity.ivf_recall(emb, cents, anchor_max_id=5, k=10, nprobe=4)
    assert all(r["recall_at_k"] == 1.0 for r in full.collect())
    narrow = similarity.ivf_recall(emb, cents, anchor_max_id=5, k=10, nprobe=1)
    for r in narrow.collect():
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_exact"] == 10


def test_truncated_dim_recall_bounds(spark):
    from nasa_asteroid_data_lakehouse_spark.llm import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.truncated_dim_recall(emb, anchor_max_id=5, k=10).collect()
    assert len(out) == 5
    for r in out:
        assert r["n_exact"] == 10
        assert 0 <= r["n_hits"] <= 10
        assert r["overlap_at_k"] == round(r["n_hits"] / 10, 6)
    # truncating to the FULL dimension must be a perfect overlap
    dim = len(emb.first()["embedding"])
    full = similarity.truncated_dim_recall(
        emb, anchor_max_id=5, k=10, dims_keep=dim
    ).collect()
    assert all(r["overlap_at_k"] == 1.0 for r in full)


# the streaming replay runs a real multi-batch job; its plan is the
# sink's, not a single query plan — exclude from the static plan check
_PLAN_CHECK = sorted(
    set(r5.QUERIES)
    - {"streaming_score_replay_documents", "streaming_session_replay_events"}
)

# bounded broadcast-anchor non-equi join (25 anchors x N), the same
# audited shape test_plan_quality allows for quantized_recall
_BNLJ_ALLOWED = {"truncated_dim_recall_embeddings", "ivf_recall_embeddings"}


@pytest.mark.parametrize("name", _PLAN_CHECK)
def test_staged_plans_have_no_cartesian(spark, name):
    plan = (
        r5.QUERIES[name](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan
