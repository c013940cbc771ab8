"""Pins for the round-7 query batch (plans/r07_queries.py) —
registered in ``__spark_entry__`` since round 7.  These tests keep the queries
green with synthetic micro-fixtures
that pin the SEMANTICS (not just oracle agreement).
"""

import math

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import r07_queries as r7

SF = "/root/testdata/sf0.001"


def test_staged_registry_shape():
    assert set(r7.QUERIES) == set(r7.ORACLES)
    assert len(r7.QUERIES) == 13


def _write(df, tmp_path, table):
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


# --- skyline -------------------------------------------------------------------


def test_skyline_keeps_only_pareto_frontier(spark, tmp_path):
    """3 days: (n=10, $10), (n=5, $15), (n=4, $2) — the third is
    dominated by both others; the first two are incomparable."""
    rows = []
    for d, (n, v) in enumerate([(10, 1.0), (5, 3.0), (4, 0.5)]):
        for i in range(n):
            rows.append((d * 100 + i, f"2024-01-0{d+1} 12:00:00", 1, "a", v))
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value",
    )
    sf = _write(ev, tmp_path, "events")
    got = r7.skyline_daily_events(spark, sf).toPandas()
    assert [str(d) for d in got["ds"]] == ["2024-01-01", "2024-01-02"]


# --- MASE ----------------------------------------------------------------------


def test_mase_uses_calendar_lags(spark, tmp_path):
    """A gap day must not shift the 7-day season: day 9 pairs with
    day 2 (exact dates), never with 'seven rows back'."""
    days = [1, 2, 3, 4, 5, 6, 7, 9]  # day 8 missing
    rows = [
        (d, f"2024-01-{d:02d} 10:00:00", 1, "t", float(d))
        for d in days
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value",
    )
    sf = _write(ev, tmp_path, "events")
    got = r7.mase_seasonal_naive_events(spark, sf).toPandas()
    row = got[got["event_type"] == "t"].iloc[0]
    # seasonal pairs: (8->1)? no day 8; (9 -> 2) only
    assert int(row["n_snaive"]) == 1
    assert math.isclose(row["mae_snaive"], 7.0, abs_tol=1e-9)
    # one-step pairs: (2,1)..(7,6) = 6 pairs; (9,8) missing
    assert int(row["n_naive"]) == 6


# --- payload block dedup --------------------------------------------------------


def test_payload_block_dedup_counts_shared_blocks(spark, tmp_path):
    """Two docs sharing an identical 256-byte prefix block dedup to
    one distinct block for that slot."""
    blk = "x" * 256
    docs = spark.createDataFrame(
        [
            (1, blk + "tailA", "en", "s", 261),
            (2, blk + "tailB", "en", "s", 261),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    got = r7.payload_block_dedup_documents(spark, sf).toPandas()
    row = got.iloc[0]
    # 2 docs x 2 blocks each = 4 total; block 0 shared -> 3 distinct
    assert int(row["total_blocks"]) == 4
    assert int(row["distinct_blocks"]) == 3


# --- rendezvous churn -----------------------------------------------------------


def test_rendezvous_churn_is_small_and_consistent(spark, sf_dir):
    got = r7.rendezvous_shard_churn_documents(spark, sf_dir).toPandas()
    assert len(got) == 9
    total = got["n_docs"].sum()
    moved = got["n_moved"].sum()
    # rendezvous moves only keys whose argmax becomes the new shard 8:
    # every moved doc must now sit on shard 8, and the expected churn
    # is ~1/9 (binomial tolerance)
    assert got[got["shard9"] != 8]["n_moved"].sum() == 0
    assert moved / total < 0.25


# --- bootstrap CI ---------------------------------------------------------------


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    got = r7.bootstrap_ci_orders(spark, sf_dir).toPandas().iloc[0]
    assert got["ci_lo"] <= got["mean_value"] <= got["ci_hi"]
    # CI must be non-degenerate but sane (mean of ~1000s of orders)
    assert got["ci_hi"] - got["ci_lo"] > 0
    assert (got["ci_hi"] - got["ci_lo"]) / got["mean_value"] < 0.5


# --- shard manifest -------------------------------------------------------------


def test_shard_manifest_respects_budget(spark, sf_dir):
    got = r7.shard_manifest_documents(spark, sf_dir).toPandas()
    # every shard except possibly each one's last doc fits the budget:
    # total_bytes - (largest doc) < budget is too strict to check here;
    # instead pin the greedy-cut invariant: exclusive prefix of each
    # shard's first doc lies in [shard*budget, (shard+1)*budget)
    assert (got["shard"].values == sorted(got["shard"].values)).all()
    assert got["n_docs"].sum() > 0
    # shards are contiguous ids 0..max
    assert list(got["shard"]) == list(range(len(got)))
    # key ranges must not overlap between consecutive shards
    for i in range(len(got) - 1):
        assert got["last_key"][i] <= got["first_key"][i + 1]


# --- centroid drift -------------------------------------------------------------


def test_centroid_drift_shape_and_exactness(spark, sf_dir):
    got = r7.centroid_drift_splits_embeddings(spark, sf_dir).toPandas()
    assert list(got["dim"]) == list(range(64))
    # max_gap is the max pairwise distance of the three centroids
    row = got.iloc[0]
    gaps = [
        abs(row["c_train"] - row["c_val"]),
        abs(row["c_train"] - row["c_test"]),
        abs(row["c_val"] - row["c_test"]),
    ]
    assert math.isclose(row["max_gap"], round(max(gaps), 6), abs_tol=2e-6)


# --- embedding split leakage ----------------------------------------------------


def test_embedding_split_leakage_counts_cross_split_only(spark, tmp_path):
    """Two near-identical vectors hashed into different splits must
    surface; a same-split near-dup pair must not."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(64).astype(float)
    rows = []
    # find ids whose split differs (mirror the md5 assignment)
    import hashlib

    def split_of(vid):
        h = hashlib.md5(f"esplit-v1||{vid}".encode()).hexdigest()
        b = int(h[:8], 16) % 10
        return "train" if b <= 7 else ("val" if b == 8 else "test")

    ids = list(range(200))
    train_ids = [i for i in ids if split_of(i) == "train"]
    val_ids = [i for i in ids if split_of(i) == "val"]
    assert train_ids and val_ids
    a, b = train_ids[0], val_ids[0]
    rows.append((a, [float(x) for x in base], 0))
    rows.append((b, [float(x) for x in base * 1.001], 0))
    # far-away filler so buckets exist
    for i in train_ids[1:3]:
        rows.append((i, [float(x) for x in rng.randn(64)], 1))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    sf = _write(emb, tmp_path, "embeddings")
    got = r7.embedding_split_leakage_embeddings(spark, sf).toPandas()
    assert len(got) >= 1
    row = got[(got["split_x"] == "train") & (got["split_y"] == "val")]
    assert len(row) == 1 and int(row["n_leaky_pairs"].iloc[0]) >= 1


# --- tfidf cosine pairs ---------------------------------------------------------


def test_tfidf_cosine_identical_docs_score_one(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, "alpha beta gamma delta", "en", "s", 22),
            (3, "unrelated words entirely here", "en", "s", 29),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    got = r7.tfidf_cosine_pairs_documents(spark, sf).toPandas()
    top = got.iloc[0]
    assert (int(top["id_a"]), int(top["id_b"])) == (1, 2)
    assert math.isclose(top["cosine_sim"], 1.0, abs_tol=1e-6)


# --- hubness --------------------------------------------------------------------


def test_hubness_histogram_accounts_every_indegree(spark, sf_dir):
    got = r7.hubness_lsh_embeddings(spark, sf_dir).toPandas()
    assert (got["in_degree"] > 0).all()
    assert got["n_vectors"].sum() > 0


# --- cdc apply ------------------------------------------------------------------


def test_cdc_apply_roundtrip_converges(spark, sf_dir):
    got = r7.cdc_apply_roundtrip_orders(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_mismatch"]) == 0
    assert int(got["n_actual"]) == int(got["n_recon"])
    assert int(got["n_actual"]) > 0


# --- span dedup rewrite ---------------------------------------------------------


def test_span_rewrite_removes_shared_spans_only(spark, tmp_path):
    """Doc 1 owns 'a b c'; doc 2 repeats it inside fresh text — the
    shared 3 tokens (and only they) are removed from doc 2."""
    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", "s", 5),
            (2, "x y a b c z w", "en", "s", 13),
            (3, "totally different text here", "en", "s", 27),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    got = (
        r7.span_dedup_rewrite_documents(spark, sf)
        .orderBy("doc_id")
        .toPandas()
    )
    import hashlib

    assert list(got["n_removed"]) == [0, 3, 0]
    # doc 2 survivor: covered positions 2,3,4 -> 'x y z w'
    assert got["survivor_md5"][1] == hashlib.md5(b"x y z w").hexdigest()
    # owners and non-sharers survive whole
    assert got["survivor_md5"][0] == hashlib.md5(b"a b c").hexdigest()


def test_span_rewrite_short_and_empty_docs_survive(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "one two", "en", "s", 7), (2, "", "en", "s", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    got = (
        r7.span_dedup_rewrite_documents(spark, sf).orderBy("doc_id").toPandas()
    )
    import hashlib

    assert list(got["n_tokens"]) == [2, 0]
    assert list(got["n_removed"]) == [0, 0]
    assert got["survivor_md5"][0] == hashlib.md5(b"one two").hexdigest()
    assert got["survivor_md5"][1] == hashlib.md5(b"").hexdigest()


# --- streaming dedup replay -----------------------------------------------------


def test_streaming_dedup_replay_drops_cross_batch_dups(spark, tmp_path):
    rows = [
        (i % 5, f"2024-01-{(i % 20) + 1:02d} 08:00:00", 1, "t", 1.0)
        for i in range(40)
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value",
    )
    sf = _write(ev, tmp_path, "events")
    got = r7.streaming_dedup_replay_events(spark, sf).toPandas().iloc[0]
    assert int(got["n_unique"]) == 5
    assert int(got["key_sum"]) == 0 + 1 + 2 + 3 + 4

def test_streaming_dedup_replay_span_exceeding_default_horizon(spark, tmp_path):
    """ADVICE r06: the watermark horizon derives from the data span, so
    a replay whose events span more than the 365-day floor still keeps
    exactly the DISTINCT key set — cross-span duplicates neither
    re-emit (state expiry) nor late-drop, whatever the file order."""
    rows = []
    for i in range(10):
        rows.append((i, f"2020-01-{i + 1:02d} 08:00:00", 1, "t", 1.0))
        rows.append((i, f"2021-12-{i + 1:02d} 08:00:00", 1, "t", 1.0))  # ~700d later
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value",
    )
    sf = _write(ev, tmp_path, "events")
    got = r7.streaming_dedup_replay_events(spark, sf).toPandas().iloc[0]
    assert int(got["n_unique"]) == 10
    assert int(got["key_sum"]) == sum(range(10))
