"""Pins for the round-9 query batch (plans/r09_queries.py) —
registered in ``__spark_entry__`` since round 9.  These tests
pin the SEMANTICS with synthetic micro-fixtures (not just oracle
agreement).
"""

import datetime

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import r09_queries as r9


def test_staged_registry_shape():
    assert set(r9.QUERIES) == set(r9.ORACLES)
    assert len(r9.QUERIES) == 10


def _write(df, tmp_path, table):
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


# --- stream-stream interval join replay ------------------------------------------


def test_interval_join_replay_exact_pairs(spark, tmp_path):
    """Controlled fixture: user 1 has an even (left) event at t0 and
    odd (right) events at t0+1h (match), t0+25h (outside the 1-day
    gap), and t0-1h (before — no match); user 2's odd event never
    matches user 1's left.  Exactly one pair survives, across batch
    boundaries."""
    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [
        (0, t0, 1),        # left, user 1
        (1, at(1), 1),     # right, in gap -> pair (0, 1)
        (3, at(25), 1),    # right, outside gap
        (5, at(-1), 1),    # right, before left
        (7, at(1), 2),     # right, other user
        (2, at(30), 2),    # left, user 2: only right in-window is... none
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    ).withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    sf = _write(ev, tmp_path, "events")
    got = r9.streaming_interval_join_replay_events(spark, sf).collect()[0]
    assert got["n_pairs"] == 1
    assert got["n_users"] == 1
    assert got["lid_sum"] == 0 and got["rid_sum"] == 1


# --- stream-static enrich replay --------------------------------------------------


def test_enrich_replay_keeps_unmatched_as_null_segment(spark, tmp_path):
    """Events whose user is missing from the dim (every third customer
    removed) survive the left join with a NULL segment instead of
    dropping."""
    ev = spark.createDataFrame(
        [(i, i % 6) for i in range(12)], "event_id bigint, user_id bigint"
    ).withColumn("ts", F.lit(None).cast("timestamp")) \
     .withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    cust = spark.createDataFrame(
        [(k, f"SEG{k}") for k in range(6)], "c_custkey bigint, c_mktsegment string"
    )
    sf = _write(ev, tmp_path, "events")
    _write(cust, tmp_path, "customer")
    rows = {r["segment"]: r for r in r9.streaming_enrich_replay_events(spark, sf).collect()}
    # custkeys 0 and 3 are removed (k % 3 == 0) -> their events unmatched
    assert rows[None]["n_events"] == 4
    assert set(rows) == {None, "SEG1", "SEG2", "SEG4", "SEG5"}
    assert all(rows[s]["n_events"] == 2 for s in rows if s is not None)


# --- vacuum / retention ------------------------------------------------------------


def test_vacuum_retention_floor_and_final_state(spark, sf_dir):
    got = r9.vacuum_retention_orders(spark, sf_dir).collect()[0]
    assert got["floor_enforced"] == 1
    assert got["n_rows_within_retention"] == got["n_rows"] + 1 + _n_del(spark, sf_dir)
    assert got["n_rows"] > 0


def _n_del(spark, sf_dir):
    from nasa_asteroid_data_lakehouse_spark.catalog import read_table

    return (
        read_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderkey").isNotNull()
            & (F.col("o_orderkey") >= 0)
            & (F.col("o_orderkey") % 13 == 0)
        )
        .select("o_orderkey")
        .distinct()
        .count()
    )


# --- rebucket round-trip -------------------------------------------------------------


def test_rebucket_roundtrip_invariants(spark, sf_dir):
    got = r9.rebucket_roundtrip_orders(spark, sf_dir).collect()[0]
    assert got["bucket_count"] == 8
    assert got["cdf_rows_across_rebucket"] == 0
    assert got["n_dup_keys"] == 0
    assert got["n_rows"] > 0


# --- IVF nprobe sweep -----------------------------------------------------------


def test_nprobe_sweep_monotone_and_full_probe_recall(spark, sf_dir):
    """Nested probes: candidates, hits, and recall are non-increasing
    as nprobe drops 4 -> 2 -> 1; scan_fraction likewise; recall at any
    nprobe is within [0, 1]."""
    import nasa_asteroid_data_lakehouse_spark.plans.r09_queries as r9m

    rows = r9m.ivf_nprobe_sweep_embeddings(spark, sf_dir).collect()
    assert [r["n_probe"] for r in rows] == [4, 2, 1]
    cands = [r["n_candidates"] for r in rows]
    hits = [r["n_hits"] for r in rows]
    assert cands == sorted(cands, reverse=True)
    assert hits == sorted(hits, reverse=True)
    for r in rows:
        if r["recall"] is not None:
            assert 0.0 <= r["recall"] <= 1.0
        if r["scan_fraction"] is not None:
            assert 0.0 < r["scan_fraction"] <= 1.0
    assert rows[0]["n_exact"] > 0


def test_nprobe_sweep_probing_all_cells_is_exact(spark, tmp_path):
    """With 8 orthogonal one-hot vectors as both corpus and seeds,
    probing 4 of 8 cells still bounds recall below 1 while the
    candidate set equals the probed cells' population exactly."""
    import nasa_asteroid_data_lakehouse_spark.plans.r09_queries as r9m

    dim = 8
    rows = [(i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    out = {r["n_probe"]: r for r in r9m.ivf_nprobe_sweep_embeddings(spark, sf).collect()}
    # 5 anchors (ids 0-4), each probes its own cell first; orthogonal
    # cells hold exactly one vector, so candidates = anchors * (probed
    # cells minus the self cell's self-pair exclusion)
    assert out[4]["n_candidates"] == 5 * 3
    assert out[1]["n_candidates"] == 0  # only the self cell probed


# --- mixture temperature sweep --------------------------------------------------


def test_mixture_temperature_sweep_flattens(spark, tmp_path):
    """On a skewed 2-source corpus (90/10), lowering alpha flattens the
    quota: the big source's share of the mixture is non-increasing as
    alpha drops 1 -> 0.5 -> 0.25 -> 0, and at alpha=0 the quotas are
    equal up to integer division."""
    import nasa_asteroid_data_lakehouse_spark.plans.r09_queries as r9m

    docs = spark.createDataFrame(
        [(i, "big" if i < 900 else "small", "t") for i in range(1000)],
        "doc_id bigint, source string, text string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    rows = r9m.mixture_temperature_sweep_documents(spark, sf).collect()
    by_alpha = {}
    for r in rows:
        by_alpha.setdefault(r["alpha_pct"], {})[r["source"]] = r["n_keep"]
    shares = [
        by_alpha[a]["big"] / max(1, by_alpha[a]["big"] + by_alpha[a]["small"])
        for a in (100, 50, 25, 0)
    ]
    assert shares == sorted(shares, reverse=True)
    assert by_alpha[100]["big"] > by_alpha[0]["big"]
    assert abs(by_alpha[0]["big"] - by_alpha[0]["small"]) <= 1


# --- physical erasure audit ------------------------------------------------------


def test_physical_erasure_leaves_zero_bytes(spark, sf_dir):
    got = r9.physical_erasure_audit_orders(spark, sf_dir).collect()[0]
    assert got["n_physical_leftover"] == 0
    assert got["n_rows"] > 0


def test_physical_erasure_audit_scans_storage_not_manifest(spark, tmp_path):
    """The audit reads bytes, not manifests: without vacuum, deleted
    keys REMAIN on disk in old snapshot files (time travel), which is
    exactly what the audit must detect — the same walk the query runs
    finds leftovers pre-vacuum and none post-vacuum."""
    import os

    from pyspark.sql import functions as SF

    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "er"), num_buckets=4)
    t.create(
        spark.createDataFrame([(i, i % 5) for i in range(50)], "k bigint, v bigint"),
        keys=["k"],
    )
    t.delete_where(SF.col("k") % 2 == 0)

    def leftovers() -> int:
        files = [
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(str(tmp_path / "er" / "data"))
            for f in fs
            if f.endswith(".parquet")
        ]
        return spark.read.parquet(*files).where(SF.col("k") % 2 == 0).count()

    assert leftovers() == 25  # version-0 files still carry them
    t.vacuum(keep_last=1)
    assert leftovers() == 0  # now physically erased


# --- stream-stream LEFT OUTER interval join replay ---------------------------------


def test_outer_join_replay_emission_rule(spark, tmp_path):
    """The watermark-emission pins, from the round-8 micro-experiments:

    * a matched pair emits;
    * an unmatched left emits NULL-padded iff l_ts + gap < final
      watermark = min(max ts per input) — STRICTLY (at equality it
      does NOT emit);
    * unmatched lefts near the stream end are suppressed.

    Fixture: user 1 left at t0 matches right at +1h; user 9 left at
    +5h has no match and 5h+24h=29h < min(maxL=30h, maxR=40h) ->
    NULL row emits; user 9 left at +30h has 30h+24h=54h > 30h ->
    suppressed."""
    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [
        (0, t0, 1),       # left: matched by (1)
        (1, at(1), 1),    # right (odd id)
        (2, at(5), 9),    # left: unmatched, emits NULL (29h < 30h)
        (4, at(30), 9),   # left: unmatched, suppressed (54h > 30h)
        (9, at(40), 7),   # right: raises maxR to 40h (maxL stays 30h)
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    ).withColumn("event_type", F.lit("t")).withColumn("value", F.lit(1.0))
    sf = _write(ev, tmp_path, "events")
    got = r9.streaming_outer_join_replay_events(spark, sf).collect()[0]
    assert got["n_pairs"] == 1
    assert got["n_outer_nulls"] == 1
    assert got["lid_sum"] == 0 + 2   # matched left 0 + emitted-null left 2
    assert got["rid_sum"] == 1


# --- packing budget sweep --------------------------------------------------------


def test_packing_budget_sweep_tradeoff(spark, tmp_path):
    """Larger budgets use fewer bins; overflow_docs is non-increasing
    as the budget grows; bins_used >= bins_lower_bound everywhere; a
    doc longer than the budget counts as overflow."""
    docs = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * (600 if i == 0 else 100))) for i in range(20)],
        "doc_id bigint, lang string, text string",
    )
    sf = _write(docs, tmp_path, "documents")
    rows = r9.packing_budget_sweep_documents(spark, sf).collect()
    assert [r["budget"] for r in rows] == [512, 1024, 2048, 4096]
    bins = [r["bins_used"] for r in rows]
    assert bins == sorted(bins, reverse=True)
    for r in rows:
        assert r["bins_used"] >= r["bins_lower_bound"]
        assert 0.0 < r["mean_fill"] <= 1.0 or r["bins_used"] == 0
    by_b = {r["budget"]: r for r in rows}
    assert by_b[512]["overflow_docs"] == 1  # the 600-token doc
    assert by_b[1024]["overflow_docs"] == 0


# --- jaccard threshold sweep ------------------------------------------------------


def test_jaccard_threshold_sweep_monotone(spark, tmp_path, monkeypatch):
    """Nested thresholds: verified counts are non-decreasing as the
    cut drops 0.9 -> 0.7 -> 0.5 over one shared candidate table; the
    sample cap is enforced in code (band-sweep rule)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("x" if i % 2 else "y")) for i in range(24)],
        "doc_id bigint, text string",
    )
    sf = _write(docs, tmp_path, "documents")
    rows = r9.jaccard_threshold_sweep_documents(spark, sf).collect()
    assert [r["threshold_pct"] for r in rows] == [90, 70, 50]
    vers = [r["n_verified"] for r in rows]
    assert vers == sorted(vers)
    assert len({r["n_candidates"] for r in rows}) == 1  # shared candidates
    # cap enforcement: with cap=6, identical docs pair at most C(6/2-ish)
    monkeypatch.setattr(r9, "_JTS_SAMPLE", 6)
    capped = r9.jaccard_threshold_sweep_documents(spark, sf).collect()
    assert all(r["n_candidates"] <= 15 for r in capped)  # C(6,2)
