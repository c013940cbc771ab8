"""Round-12 optimization pins.

Each test pins an equivalence that a round-12 performance change relies
on, so a later refactor cannot silently break it:

* the r08 band sweep computes bit-identical output whether it builds
  its own sampled signature base or re-bands the near-dup family's
  shared (doc, sh, sig) checkpoint (llm_queries._lsh_sig_base_cached);
* the PCA / markov unrolled-SQL iteration chains match the reference
  per-iteration DataFrame arithmetic exactly on the same lattice.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _reset_lsh_caches():
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as llm

    llm._LSH_PAIR_CACHE.clear()
    llm._LSH_BASE_CACHE.clear()


@pytest.fixture()
def fresh_lsh_caches():
    _reset_lsh_caches()
    yield
    _reset_lsh_caches()


def test_band_sweep_shared_base_bit_identical(spark, sf_dir, fresh_lsh_caches):
    """The sweep's two base paths (own sampled build vs re-banding the
    family's shared signature checkpoint) must agree bit-for-bit: same
    params (K, N), row-wise deterministic shingling, and the md5-rank
    sample commutes with per-row projection."""
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as llm
    from nasa_asteroid_data_lakehouse_spark.plans import r08_queries as r08

    assert llm._peek_lsh_sig_base(spark, sf_dir) is None
    fallback = sorted(
        map(tuple, r08.minhash_band_sweep_documents(spark, sf_dir).collect())
    )
    # Prime the shared base the way the bench's family prebuild does.
    llm._lsh_sig_base_cached(spark, sf_dir)
    assert llm._peek_lsh_sig_base(spark, sf_dir) is not None
    shared = sorted(
        map(tuple, r08.minhash_band_sweep_documents(spark, sf_dir).collect())
    )
    assert fallback == shared


def test_band_sweep_params_match_family():
    """The shared-base reuse is only valid while the sweep's shingle /
    signature parameters equal the family's; the runtime guard checks
    this, and this pin documents the coupling."""
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as llm
    from nasa_asteroid_data_lakehouse_spark.plans import r08_queries as r08

    assert r08._MBS_K == llm._LSHMH_K
    assert r08._MBS_N == llm._LSHMH_N


def test_lsh_family_uses_shared_base(spark, sf_dir, fresh_lsh_caches):
    """_lsh_pairs_cached must populate the shared base cache (the bench
    prebuild primes BOTH caches through this one call)."""
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as llm

    llm._lsh_pairs_cached(spark, sf_dir, 0.0)
    assert llm._peek_lsh_sig_base(spark, sf_dir) is not None


def test_power_chain_sql_matches_dataframe_loop(spark):
    """The unrolled-SQL power chain (r06) reproduces the per-iteration
    DataFrame arithmetic exactly: same ROUND lattice, same try_divide
    NULL semantics, same join/aggregate grouping."""
    from pyspark.sql import Window

    from nasa_asteroid_data_lakehouse_spark.plans.r06_queries import (
        _PCA_ITERS,
        _PCA_V0,
        _run_power_chain,
    )

    rows = [
        (0, 0, 0.42), (0, 1, -0.11), (1, 0, -0.11), (1, 1, 0.31),
        (0, 2, 0.05), (2, 0, 0.05), (1, 2, -0.02), (2, 1, -0.02),
        (2, 2, 0.27),
    ]
    m = spark.createDataFrame(rows, "i bigint, j bigint, c double")
    m1 = m.coalesce(1).localCheckpoint(eager=True)

    got = _run_power_chain(spark, m1, "test")

    # Reference: the pre-r12 per-iteration DataFrame loop.
    w_all = Window.partitionBy()
    v = m1.select(F.col("i").alias("dim")).distinct().select(
        "dim", F.lit(_PCA_V0).alias("x")
    )
    for _ in range(_PCA_ITERS):
        u = (
            m1.join(v, m1["j"] == v["dim"])
            .groupBy(F.col("i").alias("d"))
            .agg(F.round(F.sum(F.col("c") * F.col("x")), 9).alias("ux"))
        )
        nrm = u.agg(
            F.round(F.sqrt(F.sum(F.col("ux") * F.col("ux"))), 9).alias("nrm")
        )
        v = (
            u.crossJoin(F.broadcast(nrm))
            .select(
                F.col("d").alias("dim"),
                F.round(F.try_divide(F.col("ux"), F.col("nrm")), 9).alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    want = {r["dim"]: r["x"] for r in v.collect()}
    have = {r["dim"]: r["x"] for r in got.collect()}
    assert have == want


# Spark job counts measured on the table shape of
# test_deferred_delete_is_one_spark_job (4 buckets, 1000 rows) before
# every bucket write applied the survivor window: the pins below are
# ceilings, so a change may lower them but never raise them.
DELETE_KEYS_JOBS = 2
COMPACT_JOBS = 6


def _jobs_in_group(sc, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, job count)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_deferred_delete_is_one_spark_job(spark, tmp_path):
    """VERDICT r11 #3: delete_where(deferred=True) used to run a
    discovery distinct+collect pass AND the DV write over the same
    matching scan; the touched set now comes from the DV write's own
    bucket dirs.  Measured on this exact table shape: the old two-pass
    structure spawned 11 Spark jobs (the discovery's mergeSchema scan
    + AQE stages), the fused path 4 — pin the fused ceiling so a
    regression reintroducing the discovery pass fails loudly.

    ``delete_keys`` and ``compact`` on the same table are pinned the
    same way, at the counts measured before the bucket writer applied
    its one-row-per-key survivor window to every write, so that window
    cannot add a Spark job unnoticed."""
    from pyspark.sql import functions as F

    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = VersionedTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.create(df, keys=["k"])

    sc = spark.sparkContext
    v, jobs = _jobs_in_group(
        sc,
        "r12-deferred-delete-probe",
        lambda: t.delete_where(F.col("k") % 7 == 0, deferred=True),
    )
    assert v == 1
    assert jobs <= 4, f"expected <=4 jobs, saw {jobs}"
    # and the delete is really in effect
    assert t.read().where(F.col("k") % 7 == 0).count() == 0

    doomed = spark.range(0, 1000, 11).select(F.col("id").alias("k"))
    v, jobs = _jobs_in_group(
        sc, "delete-keys-probe", lambda: t.delete_keys(doomed)
    )
    assert v == 2
    assert jobs <= DELETE_KEYS_JOBS, f"expected <={DELETE_KEYS_JOBS} jobs, saw {jobs}"

    v, jobs = _jobs_in_group(sc, "compact-probe", lambda: t.compact())
    assert v == 3
    assert jobs <= COMPACT_JOBS, f"expected <={COMPACT_JOBS} jobs, saw {jobs}"
    gone = F.col("k") % 7 == 0
    assert t.read().where(gone | (F.col("k") % 11 == 0)).count() == 0
    assert t.read().count() == 1000 - 143 - 91 + 13


def test_deferred_delete_noop_commits_nothing(spark, tmp_path):
    """The fused path must keep the no-op contract: a predicate
    matching zero rows writes no DV files, commits no version and
    leaves no txn directory behind; so does delete_keys on an empty
    key frame."""
    from pyspark.sql import functions as F

    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    t = VersionedTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.create(df, keys=["k"])
    data_dirs = sorted(os.listdir(t._data_dir))
    assert len(data_dirs) == 1  # the create's txn dir
    v = t.delete_where(F.col("k") < 0, deferred=True)
    assert v == 0  # unchanged head, no new manifest
    assert t.latest_version() == 0
    assert t.read().count() == 100
    # no residue either: the empty vector write removes its txn dir
    assert sorted(os.listdir(t._data_dir)) == data_dirs

    # an empty delete_keys frame is the same no-op
    v = t.delete_keys(spark.createDataFrame([], "k bigint"))
    assert v == 0
    assert t.latest_version() == 0
    assert sorted(os.listdir(t._data_dir)) == data_dirs


def test_markov_sql_chain_renormalizes(spark, sf_dir):
    """The markov SQL chain's output still sums to ~1 and matches the
    stationarity property pi ~= pi . P on real data."""
    from nasa_asteroid_data_lakehouse_spark.plans.r06_queries import (
        markov_stationary_events,
    )

    out = markov_stationary_events(spark, sf_dir).toPandas()
    if len(out):
        assert abs(out["stationary_prob"].sum() - 1.0) < 1e-4
        assert (out["stationary_prob"] >= 0).all()
        assert not out["event_type"].duplicated().any()
        assert isinstance(out, pd.DataFrame)
