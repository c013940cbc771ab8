"""Pins for the round-8 query batch (plans/r08_queries.py) —
registered in ``__spark_entry__`` since round 8.  These tests pin the
SEMANTICS with synthetic micro-fixtures (not just oracle agreement).
"""

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import similarity
from nasa_asteroid_data_lakehouse_spark.plans import r08_queries as r8

SF = "/root/testdata/sf0.001"


def test_staged_registry_shape():
    assert set(r8.QUERIES) == set(r8.ORACLES)
    assert len(r8.QUERIES) == 12


def _write(df, tmp_path, table):
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


# --- IVF-PQ composite ----------------------------------------------------------


def test_ivfpq_topk_scores_probed_cells_only(spark):
    """Vectors equal to a codeword reconstruct exactly, so ADC == the
    exact dot; a vector in an UNPROBED cell never appears however high
    its true score — the cell-pruning semantics that distinguish
    IVF-PQ from a plain PQ scan."""
    d = 8
    e = [[1.0 if i == j else 0.0 for i in range(d)] for j in range(d)]
    # ids 0..7 are the seeds (coarse cells AND PQ codewords)
    rows = [(j, e[j]) for j in range(d)]
    # id 100: sits in cell 0's neighbourhood (equals seed 0) -> probed
    rows.append((100, e[0]))
    # id 200: equals seed 5 -> cell 5, unprobed for query e[0] whose
    # two nearest cells are 0 and the tie-lowest other
    rows.append((200, e[5]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [e[j] for j in range(d)]
    out = similarity.ivfpq_topk(
        df, e[0], cents, cents, r8._pq_geometry(d), k=10, nprobe=2
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert 100 in ids
    assert 200 not in ids  # unprobed cell
    by_id = {r["vec_id"]: r for r in out}
    # exact reconstruction: ADC(q=e0, v=e0) = 1.0
    assert abs(by_id[100]["adc_score"] - 1.0) < 1e-9


def test_ivfpq_recall_perfect_when_cells_cover(spark, sf_dir):
    """On the real fixture the audit emits one row per valid anchor
    with recall in [0, 1] and hits <= exact."""
    out = r8.ivfpq_recall_embeddings(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_hits"] <= r["n_exact"]


# --- transactional snapshot ----------------------------------------------------


def test_txn_snapshot_consistent_at_every_pin(spark, sf_dir):
    rows = r8.txn_consistent_snapshot_orders(spark, sf_dir).collect()
    assert [r["txn_id"] for r in rows] == [0, 1]
    for r in rows:
        assert r["n_mismatch"] == 0
    assert rows[1]["n_fact"] < rows[0]["n_fact"]  # the delete landed


# --- zorder optimize ------------------------------------------------------------


def test_zorder_optimize_roundtrip_matches_direct(spark, sf_dir):
    got = r8.zorder_optimize_roundtrip_orders(spark, sf_dir).collect()[0]
    from nasa_asteroid_data_lakehouse_spark.catalog import read_table
    from nasa_asteroid_data_lakehouse_spark.operators.stats import finite

    direct = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull() & (F.col("o_custkey") <= 400))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.when(
                        finite("o_totalprice"),
                        F.floor(F.col("o_totalprice") * 100).cast("long"),
                    )
                ),
                F.lit(0),
            ).alias("cents"),
        )
        .collect()[0]
    )
    assert got["n_orders"] == direct["n"]
    assert got["sum_cents"] == direct["cents"]


# --- LSH index maintenance -------------------------------------------------------


def test_lsh_maintenance_rejects_near_dups_and_splits_overfull(spark, tmp_path):
    """An incoming vector identical to an index vector is rejected
    (same bucket, cosine 1); a far-from-everything arrival admits.
    Flooding one direction overfills its bucket past the 2x-mean cap
    and the bucket splits; max occupancy never grows."""
    d = 64
    base_vec = [1.0] + [0.0] * (d - 1)
    other = [0.0] * 32 + [1.0] + [0.0] * 31
    rows = []
    # even ids: the index — 30 copies of base_vec direction
    for i in range(30):
        rows.append((2 * i, [v * (1 + 0.001 * i) for v in base_vec]))
    # odd ids: arrivals — one exact dup (reject), one orthogonal (admit)
    rows.append((101, base_vec))
    rows.append((103, other))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    sf = _write(df, tmp_path, "embeddings")
    got = r8.lsh_index_maintenance_embeddings(spark, sf).collect()[0]
    assert got["n_base"] == 30 and got["n_incoming"] == 2
    assert got["n_rejected"] == 1 and got["n_admitted"] == 1
    # 31 final vectors over 16 buckets, one direction holds ~30 ->
    # occupancy 30 > cap 2*ceil(31/16)=4 -> that bucket splits
    assert got["n_split"] >= 1
    assert got["max_occ_after"] <= got["max_occ_before"]


# --- CDF apply across schema evolution -----------------------------------------


def test_cdc_schema_evolution_apply_converges(spark, sf_dir):
    got = r8.cdc_apply_schema_evolution_orders(spark, sf_dir).collect()[0]
    assert got["n_mismatch"] == 0
    assert got["n_stale_extra"] == 0  # the schema_drop repair
    assert got["n_actual"] == got["n_recon"] > 0


# --- auto-plane hubness ----------------------------------------------------------


def test_auto_plane_law_integer_exact():
    """One more plane per corpus doubling, occupancy target 64,
    clamped to [4, 16] — integer comparisons only."""
    assert r8._auto_planes(0) == 4
    assert r8._auto_planes(500) == 4
    assert r8._auto_planes(64 * 16) == 4        # boundary inclusive
    assert r8._auto_planes(64 * 16 + 1) == 5
    assert r8._auto_planes(5000) == 7
    assert r8._auto_planes(64 * (1 << 16)) == 16
    assert r8._auto_planes(10**12) == 16        # clamp


def test_auto_plane_prefix_bucket_equals_code_mod(spark):
    """bucket over the first P planes == 16-plane code % 2^P — the
    identity that lets the oracle derive the same dynamic bucket."""
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<double>"
    )
    full = similarity.hyperplane_coefficients(16, 64)
    for p in (4, 7, 11):
        got = df.select(
            similarity.bucket_id(F.col("embedding"), full[:p]).alias("pref"),
            (
                similarity.bucket_id(F.col("embedding"), full)
                % F.lit(1 << p)
            ).alias("mod"),
        ).collect()
        assert all(r["pref"] == r["mod"] for r in got)


def test_hubness_autoplane_accounts_every_indegree(spark, sf_dir):
    rows = r8.hubness_autoplane_embeddings(spark, sf_dir).collect()
    assert rows
    assert all(r["in_degree"] >= 1 for r in rows)


# --- exactly-once streaming upsert ----------------------------------------------


def test_streaming_upsert_idempotent_batch_marker(spark, tmp_path):
    """The committed stream_txn marker makes a replayed batch a no-op:
    same (app, batch) never double-applies; a different app id is its
    own lineage and does apply."""
    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.streaming.lakehouse import (
        applied_stream_batches,
        upsert_batch_idempotent,
    )

    t = VersionedTable(spark, str(tmp_path / "vt"), num_buckets=4)
    t.create(
        spark.createDataFrame([], "event_id bigint, val bigint"),
        keys=["event_id"],
    )
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "event_id bigint, val bigint")
    assert upsert_batch_idempotent(t, b0, 0, app_id="a") is True
    v_after = t.latest_version()
    # replayed delivery of the same batch id: no-op, no new version
    assert upsert_batch_idempotent(t, b0, 0, app_id="a") is False
    assert t.latest_version() == v_after
    assert applied_stream_batches(t, "a") == {0}
    # a different app id is an independent txn lineage
    assert upsert_batch_idempotent(t, b0, 0, app_id="b") is True
    assert applied_stream_batches(t, "b") == {0}
    assert t.read().count() == 2  # upsert merged, not duplicated


def test_streaming_upsert_replay_equals_distinct(spark, tmp_path):
    """End-to-end replay twin: cross-batch duplicate keys collapse via
    the upsert merge, and the second full replay (fresh checkpoint,
    batch ids from 0) commits zero extra versions."""
    rows = [(i % 7, None, 1, "t", 1.0) for i in range(40)]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double",
    )
    sf = _write(ev, tmp_path, "events")
    got = r8.streaming_upsert_replay_events(spark, sf).collect()[0]
    assert got["n_rows"] == 7
    assert got["key_sum"] == sum(range(7))
    assert got["extra_versions_on_replay"] == 0


# --- incremental view maintenance ------------------------------------------------


def test_ivm_matches_full_recompute(spark, sf_dir):
    got = r8.ivm_incremental_dim_orders(spark, sf_dir).collect()[0]
    assert got["n_mismatch"] == 0
    assert got["n_groups"] > 0


def test_ivfpq_residual_reconstructs_exactly_on_lattice(spark):
    """A vector equal to (cell centroid + PQ codeword residual)
    reconstructs exactly, so its ADC equals the exact dot — and the
    decomposition q·c + q·recon(residual) is what gets scored."""
    d = 8
    e = [[1.0 if i == j else 0.0 for i in range(d)] for j in range(d)]
    cells = [e[0], e[1]]
    # codebook residuals: +0.5 on dim 2, +0.5 on dim 3
    r0 = [0.0, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0]
    r1 = [0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0, 0.0]
    # vector = cell0 + r0: residual hits codeword 0 exactly
    v = [a + b for a, b in zip(e[0], r0)]
    df = spark.createDataFrame(
        [(5, v)], "vec_id bigint, embedding array<double>"
    )
    q = [1.0] * d
    out = similarity.ivfpq_residual_topk(
        df, q, cells, [r0, r1], r8._pq_geometry(d), k=5, nprobe=2
    ).collect()
    assert len(out) == 1
    exact = sum(qi * vi for qi, vi in zip(q, v))
    assert abs(out[0]["adc_score"] - round(exact, 6)) < 1e-9


def test_band_sweep_monotone_sensitivity(spark, sf_dir):
    """More bands (fewer rows per band) can only be MORE sensitive:
    candidate and verified counts are non-increasing as bands drop
    8 -> 4 -> 2, relative recall likewise; precision is defined and
    within [0, 1] wherever candidates exist."""
    rows = r8.minhash_band_sweep_documents(spark, sf_dir).collect()
    assert [r["n_bands"] for r in rows] == [8, 4, 2]
    cands = [r["n_candidates"] for r in rows]
    vers = [r["n_verified"] for r in rows]
    assert cands == sorted(cands, reverse=True)
    assert vers == sorted(vers, reverse=True)
    for r in rows:
        if r["n_candidates"]:
            assert 0.0 <= r["precision"] <= 1.0
        if r["relative_recall"] is not None:
            assert 0.0 <= r["relative_recall"] <= 1.0


def test_band_sweep_sample_cap_enforced(spark, tmp_path, monkeypatch):
    """VERDICT r07: sample-by-design must be ENFORCED in the query
    body, not just documented.  With the cap monkeypatched to 10, a
    30-identical-doc corpus (which would otherwise yield C(30,2)=435
    pairs in every config) yields exactly C(10,2)=45 — the sweep never
    sees more than _MBS_SAMPLE docs."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(30)],
        "doc_id bigint, text string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    monkeypatch.setattr(r8, "_MBS_SAMPLE", 10)
    rows = r8.minhash_band_sweep_documents(spark, sf).collect()
    assert all(r["n_candidates"] == 45 and r["n_verified"] == 45 for r in rows)
