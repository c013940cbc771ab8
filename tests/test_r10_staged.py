import pytest
"""Pins for the round-10 query batch (plans/r10_queries.py) —
registered in ``__spark_entry__`` since round 10.  These tests
pin the SEMANTICS with synthetic micro-fixtures (not just oracle
agreement); the lake mechanics themselves are pinned in
tests/test_versioned_table.py (timestamp resolution, restore, deletion
vectors).
"""


# Deselected by default (pytest.ini addopts -m 'not slow'): staged r10 lake/replay integrations.
# Run with `pytest -m ""` to include; assertions are unchanged.
pytestmark = pytest.mark.slow
import datetime

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import r10_queries as r10


def test_staged_registry_shape():
    assert set(r10.QUERIES) == set(r10.ORACLES)
    assert len(r10.QUERIES) == 15


def _write(df, tmp_path, table):
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


def _orders(spark, tmp_path, keys):
    df = spark.createDataFrame([(k,) for k in keys], "o_orderkey bigint")
    return _write(df, tmp_path, "orders")


# --- timestamp-as-of ---------------------------------------------------------------


def test_time_travel_timestamp_resolution(spark, tmp_path):
    """Keys 1..40: key%6 rows get the v1 bump, key%13 rows vanish at
    v2; the mid timestamp sees the v1 snapshot."""
    keys = list(range(1, 41))
    sf = _orders(spark, tmp_path, keys)
    got = r10.time_travel_timestamp_orders(spark, sf).collect()[0]
    v1_cents = sum(k % 500 + (1000 if k % 6 == 0 else 0) for k in keys)
    v2_keys = [k for k in keys if k % 13 != 0]
    v2_cents = sum(k % 500 + (1000 if k % 6 == 0 else 0) for k in v2_keys)
    assert got["n_rows_asof_mid"] == 40
    assert got["cents_sum_asof_mid"] == v1_cents
    assert got["n_rows_head"] == len(v2_keys)
    assert got["cents_sum_head"] == v2_cents
    assert got["resolved_mid_version"] == 1
    assert got["resolved_head_version"] == 2
    assert got["before_first_raises"] == 1


def test_time_travel_timestamp_no_delete_commit(spark, tmp_path):
    """With no key%13 row the delete never commits and the head stays
    at version 1 (structural determinism on tiny fixtures)."""
    sf = _orders(spark, tmp_path, [1, 2, 3])
    got = r10.time_travel_timestamp_orders(spark, sf).collect()[0]
    assert got["resolved_head_version"] == 1
    assert got["n_rows_head"] == 3


# --- RESTORE undo feed -------------------------------------------------------------


def test_restore_undo_feed_classification(spark, tmp_path):
    """Keys 1..70: %5 rows bump at v1 (14), %7 rows + the synthetic -1
    delete at v2 (10 + 1), restore(0) undoes — inserts the 10 deleted
    rows back, reverts the surviving 12 bumped rows (%5 not %7),
    deletes nothing (the synthetic row was already gone)."""
    keys = list(range(1, 71))
    sf = _orders(spark, tmp_path, keys)
    got = r10.restore_undo_feed_orders(spark, sf).collect()[0]
    assert got["n_rows_final"] == 70
    assert got["cents_sum_final"] == sum(k % 500 for k in keys)
    assert got["n_undo_inserts"] == sum(1 for k in keys if k % 7 == 0)
    assert got["n_undo_updates"] == sum(
        1 for k in keys if k % 5 == 0 and k % 7 != 0
    )
    assert got["n_undo_deletes"] == 0


# --- deletion vectors ---------------------------------------------------------------


def test_dv_merge_on_read_invariants(spark, tmp_path):
    """Keys 1..50: the deferred delete of %9 rows must rewrite zero
    files, keep every row physically present until the purge, and
    leave exactly the survivors after compact+vacuum."""
    keys = list(range(1, 51))
    sf = _orders(spark, tmp_path, keys)
    got = r10.dv_merge_on_read_orders(spark, sf).collect()[0]
    survivors = [k for k in keys if k % 9 != 0]
    assert got["n_rows"] == len(survivors)
    assert got["cents_sum"] == sum(k % 500 for k in survivors)
    assert got["files_rewritten_by_delete"] == 0
    assert got["physical_before_purge"] == 50
    assert got["physical_after_purge"] == len(survivors)
    assert got["n_rows_v0"] == 50


def test_dv_upsert_materialize_no_resurrection(spark, tmp_path):
    """Keys 1..48: %4 rows deferred-delete (12), %6 rows upsert back
    with +2000 (8, of which 4 are %12 re-inserts); %4-not-%6 rows must
    stay deleted through the bucket rewrite."""
    keys = list(range(1, 49))
    sf = _orders(spark, tmp_path, keys)
    got = r10.dv_upsert_materialize_orders(spark, sf).collect()[0]
    final = {
        k: (k % 500) + (2000 if k % 6 == 0 else 0)
        for k in keys
        if k % 4 != 0 or k % 6 == 0
    }
    assert got["n_rows"] == len(final)
    assert got["cents_sum"] == sum(final.values())
    assert got["n_bumped"] == sum(1 for k in keys if k % 6 == 0)
    assert got["n_resurrected"] == 0


# --- history audit -------------------------------------------------------------------


def test_lake_history_audit_operations_and_counts(spark, tmp_path):
    keys = list(range(1, 34))
    sf = _orders(spark, tmp_path, keys)
    rows = r10.lake_history_audit_orders(spark, sf).collect()
    n_del = sum(1 for k in keys if k % 11 == 0)
    got = [(r["version"], r["operation"], r["n_rows"]) for r in rows]
    assert got == [
        (0, "create", 34),  # 33 keys + synthetic -1
        (1, "delete_deferred", 33 - n_del),
        (2, "upsert", 33 - n_del + 1),  # synthetic -2
        (3, "compact", 33 - n_del + 1),
        (4, "restore", 34),
    ]


def test_lake_history_audit_compact_always_triggers(spark, tmp_path):
    """Single-key fixture: -1's deletion vector survives the -2 upsert
    (distinct buckets by construction), so compact always commits and
    the history shape is identical at any input."""
    sf = _orders(spark, tmp_path, [1])
    rows = r10.lake_history_audit_orders(spark, sf).collect()
    assert [r["operation"] for r in rows] == [
        "create",
        "delete_deferred",
        "upsert",
        "compact",
        "restore",
    ]


# --- CDF stream replay ---------------------------------------------------------------


def test_cdf_stream_replay_replica_converges(spark, tmp_path):
    keys = list(range(1, 36))
    sf = _orders(spark, tmp_path, keys)
    got = r10.cdf_stream_replay_orders(spark, sf).collect()[0]
    assert got["n_mismatch"] == 0
    assert got["n_rows"] == 35
    assert got["cents_sum"] == sum(k % 500 for k in keys)
    n5 = sum(1 for k in keys if k % 5 == 0)
    n7 = sum(1 for k in keys if k % 7 == 0)
    n57 = sum(1 for k in keys if k % 5 == 0 and k % 7 != 0)
    assert got["n_feed_upsert"] == n5 + 1
    assert got["n_feed_delete"] == n7 + 1
    assert got["n_feed_restore"] == n7 + n57


# --- quantization bits sweep -----------------------------------------------------------


def test_quant_bits_sweep_monotone_and_int8_dominates(spark, sf_dir):
    rows = {r["bits"]: r for r in r10.quant_bits_sweep_embeddings(spark, sf_dir).collect()}
    assert set(rows) == {8, 4, 2}
    # same shared exact ground truth for every config
    n_anchors = {r["n_anchors"] for r in rows.values()}
    n_exact = {r["n_exact_total"] for r in rows.values()}
    assert len(n_anchors) == 1 and len(n_exact) == 1
    # more bits never rank worse on this corpus (weak-monotone), and
    # int8 is near-lossless while int2 is measurably lossy
    assert rows[8]["sum_hits"] >= rows[4]["sum_hits"] >= rows[2]["sum_hits"]
    assert rows[8]["overlap"] >= 0.9
    assert rows[2]["overlap"] < rows[8]["overlap"]


def test_quant_bits_sweep_identical_vectors_tie_break(spark, tmp_path):
    """Duplicate-direction vectors: ranking falls to the nbr tie-break
    on both measures, so overlap is exactly 1.0 at every bit width."""
    vecs = [(i, [1.0, 2.0, -1.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    df = df.withColumn("label", F.lit(0))
    sf = _write(df, tmp_path, "embeddings")
    rows = r10.quant_bits_sweep_embeddings(spark, sf).collect()
    assert all(r["overlap"] == 1.0 for r in rows)


# --- full-outer interval-join replay ----------------------------------------------------


def test_full_outer_replay_emission_rules(spark, tmp_path):
    """The per-side emission rules, pinned on a crafted fixture:

    * matched pair (l0, r1) within the gap, boundary-inclusive (l4,r3)
      at exactly l_ts + gap;
    * l2 unmatched with l_ts+gap strictly below the final watermark ->
      emits; l6 at the stream end (l_ts+gap > wm) -> suppressed;
    * right rows r5, r7 with r_ts < wm -> emit; r9 with r_ts == wm ->
      EMITS (non-strict, unlike the left side)."""
    dt = datetime.datetime

    rows = [
        (0, dt(2024, 1, 1, 0), 1),
        (2, dt(2024, 1, 3, 0), 1),
        (4, dt(2024, 1, 5, 0), 2),
        (6, dt(2024, 1, 9, 0), 3),
        (1, dt(2024, 1, 1, 12), 1),
        (3, dt(2024, 1, 6, 0), 2),
        (5, dt(2024, 1, 2, 0), 9),
        (7, dt(2024, 1, 8, 23), 9),
        (9, dt(2024, 1, 9, 0), 9),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    ).withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    sf = _write(ev, tmp_path, "events")
    got = r10.streaming_full_outer_join_replay_events(spark, sf).collect()[0]
    assert got["n_pairs"] == 2          # (0,1), (4,3)
    assert got["n_left_nulls"] == 1     # l2 only; l6 suppressed
    assert got["n_right_nulls"] == 3    # r5, r7, r9 (== wm emits)
    assert got["lid_sum"] == 0 + 4 + 2
    assert got["rid_sum"] == 1 + 3 + 5 + 7 + 9


def test_full_outer_replay_empty_side_suppresses_outer(spark, tmp_path):
    """An empty right side never advances the min-of-inputs watermark:
    no outer row ever emits (the NULL-safe oracle mirrors this)."""
    dt = datetime.datetime
    rows = [(0, dt(2024, 1, 1, 0), 1), (2, dt(2024, 1, 5, 0), 1)]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    ).withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    sf = _write(ev, tmp_path, "events")
    got = r10.streaming_full_outer_join_replay_events(spark, sf).collect()[0]
    assert got["n_pairs"] == 0
    assert got["n_left_nulls"] == 0
    assert got["n_right_nulls"] == 0


# --- vector store over the lakehouse ------------------------------------------------


def test_dv_vector_store_excludes_retired_vectors(spark, tmp_path):
    """Retired (deferred-deleted) vectors must vanish from the top-k:
    vec_id%5==2 never appears, and the probe still ranks itself
    first."""
    import math

    vecs = [
        (i, [math.cos(i * 0.37), math.sin(i * 0.37), 0.5, 1.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    df = df.withColumn("label", F.lit(0))
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    rows = r10.dv_vector_store_topk_embeddings(spark, str(tmp_path)).collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == 20
    assert all(i % 5 != 2 for i in ids)
    assert ids[0] == 0  # the probe matches itself at cosine 1.0


# --- optimize purges deletion vectors ------------------------------------------------


def test_optimize_dv_purge_counts(spark, tmp_path):
    keys = list(range(1, 65))
    sf = _orders(spark, tmp_path, keys)
    got = r10.optimize_dv_purge_orders(spark, sf).collect()[0]
    survivors = [k for k in keys if k % 8 != 0]
    assert got["n_rows"] == len(survivors)
    assert got["cents_sum"] == sum(k % 500 for k in survivors)
    assert got["dvs_after_optimize"] == 0
    assert got["physical_after_vacuum"] == len(survivors)


# --- streaming CDF subscription ------------------------------------------------------


def test_streaming_cdf_subscription_counts(spark, tmp_path):
    keys = list(range(1, 36))
    sf = _orders(spark, tmp_path, keys)
    got = r10.streaming_cdf_subscription_orders(spark, sf).collect()[0]
    n5 = sum(1 for k in keys if k % 5 == 0)
    n7 = sum(1 for k in keys if k % 7 == 0)
    n57 = sum(1 for k in keys if k % 5 == 0 and k % 7 != 0)
    assert got["n_inserts"] == 1 + n7
    assert got["n_updates"] == n5 + n57
    assert got["n_deletes"] == n7 + 1
    assert got["n_feed_rows"] == got["n_inserts"] + got["n_updates"] + got["n_deletes"]
    assert got["n_versions"] == 3


# --- decontamination n-gram sweep -----------------------------------------------------


def test_decontamination_ngram_sweep_monotone(spark, tmp_path):
    """Crafted corpus: doc 97 (eval) = 'a b c d e f'; doc 1 shares a
    5-gram span, doc 2 shares only a bigram, doc 3 shares nothing.
    Counts are monotone non-increasing in n."""
    rows = [
        (97, "a b c d e f"),
        (1, "x a b c d e y"),      # 5-gram 'a b c d e' matches
        (2, "c d zzz www qqq rrr"),  # only the bigram 'c d'
        (3, "p q r s t u"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df = df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["n"]: r
        for r in r10.decontamination_ngram_sweep_documents(
            spark, str(tmp_path)
        ).collect()
    }
    assert [got[n]["n_contaminated"] for n in (2, 3, 5)] == [2, 1, 1]
    assert got[2]["n_corpus_docs"] == 3
    assert (
        got[2]["n_overlap_pairs"]
        >= got[3]["n_overlap_pairs"]
        >= got[5]["n_overlap_pairs"]
    )
    assert got[2]["contamination_rate"] > got[5]["contamination_rate"]


# --- quality threshold sweep -----------------------------------------------------------


def test_quality_threshold_sweep_monotone_yield(spark, sf_dir):
    rows = {
        r["min_words"]: r
        for r in r10.quality_threshold_sweep_documents(spark, sf_dir).collect()
    }
    assert set(rows) == {5, 25, 100}
    # raising the floor can only drop documents and tokens
    assert rows[5]["n_kept"] >= rows[25]["n_kept"] >= rows[100]["n_kept"]
    assert (
        rows[5]["token_yield"]
        >= rows[25]["token_yield"]
        >= rows[100]["token_yield"]
    )
    assert rows[5]["keep_rate"] >= rows[100]["keep_rate"]
    assert rows[5]["n_kept"] > 0


# --- continuous replication -------------------------------------------------------


def test_streaming_replication_mirror(spark, tmp_path):
    keys = list(range(1, 36))
    sf = _orders(spark, tmp_path, keys)
    got = r10.streaming_replication_orders(spark, sf).collect()[0]
    final = {
        k: (k % 500) + (1000 if k % 5 == 0 else 0)
        for k in keys
        if k % 7 != 0
    }
    assert got["n_mismatch"] == 0
    assert got["n_rows"] == len(final)
    assert got["cents_sum"] == sum(final.values())
    assert got["watermark_advanced"] == 1


# --- session gap sweep -----------------------------------------------------------------


def test_session_gap_sweep_monotone(spark, tmp_path):
    """Crafted stream: one user, events at 0, 20m, 70m, 300m (diffs
    20/50/230).  Gap 15m -> 4 sessions, 30m -> 3, 60m -> 2, 120m -> 2;
    the boundary is STRICT (a diff equal to the gap does not break).
    Wider gaps never increase session counts."""
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + datetime.timedelta(minutes=m), 1)
        for i, m in enumerate([0, 20, 70, 300])
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    ).withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    sf = _write(ev, tmp_path, "events")
    got = {r["gap_minutes"]: r for r in r10.session_gap_sweep_events(spark, sf).collect()}
    assert [got[g]["n_sessions"] for g in (15, 30, 60, 120)] == [4, 3, 2, 2]
    assert got[15]["n_breaks"] == 3
    assert got[120]["mean_events_per_session"] == 2.0
