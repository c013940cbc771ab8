"""Pins for the round-6 query batch (plans/r06_queries.py) —
registered in ``__spark_entry__`` since round 6.  These tests keep the queries
(and the operators underneath) green.
"""

import datetime as dt

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import similarity
from nasa_asteroid_data_lakehouse_spark.plans import r06_queries as r6

SF = "/root/testdata/sf0.001"


def test_staged_registry_shape():
    assert set(r6.QUERIES) == set(r6.ORACLES)
    assert len(r6.QUERIES) == 16


def _write(df, tmp_path, table):
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


# --- NDCG / MRR ---------------------------------------------------------------


def test_ndcg_perfect_index_is_one(spark):
    """probe_hamming covering every bucket ⇒ approx ranking == exact
    ranking ⇒ NDCG 1.0 and MRR 1.0.  Regression pin for the idcg
    when-chain direction: a descending build made `>= 1` outermost and
    idcg collapsed to 1.0 (NDCG > 1) — caught by the staged oracle
    gate in round 5."""
    embs = spark.createDataFrame(
        [(i, [1.0 + i, 2.0, 3.0]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity.ndcg_lsh(
        embs, anchor_max_id=1, k=10, num_planes=4, probe_hamming=4
    ).collect()
    assert len(out) == 1
    assert out[0]["n_exact"] == 7
    assert out[0]["ndcg_at_k"] == 1.0
    assert out[0]["mrr"] == 1.0


def test_ndcg_bounded_on_real_data(spark):
    rows = r6.ndcg_lsh_embeddings(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg_at_k"] <= 1.0
        assert 0.0 <= r["mrr"] <= 1.0


def test_dcg_weights_prefix_sums():
    ws, cum = similarity.dcg_weights(10)
    assert ws[0] == 1.0
    assert all(a > b for a, b in zip(ws, ws[1:]))  # strictly decreasing
    assert abs(cum[-1] - sum(ws)) == 0.0  # same summation order


# --- Kaplan-Meier --------------------------------------------------------------


def test_km_survival_hits_zero_at_max_gap(spark, tmp_path):
    """One customer, orders 10 days apart: every gap is 10, d = n at
    the single risk row, so survival is pinned 0.0 (the Spark
    log(0)=NULL vs DuckDB ln(0)=-inf divergence guard)."""
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 10.0, dt.datetime(2024, 1, 1), "1-URGENT"),
            (2, 1, "O", 10.0, dt.datetime(2024, 1, 11), "1-URGENT"),
            (3, 1, "O", 10.0, dt.datetime(2024, 1, 21), "1-URGENT"),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    sf = _write(orders, tmp_path, "orders")
    rows = r6.kaplan_meier_orders(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["gap_days"] == 10
    assert rows[0]["n_events"] == 2
    assert rows[0]["n_at_risk"] == 2
    assert rows[0]["survival"] == 0.0


def test_km_monotone_on_real_data(spark):
    rows = (
        r6.kaplan_meier_orders(spark, SF)
        .orderBy("gap_days")
        .collect()
    )
    assert rows
    surv = [r["survival"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    assert all(0.0 <= s <= 1.0 for s in surv)
    # suffix-sum risk sets are non-increasing in gap order too
    risk = [r["n_at_risk"] for r in rows]
    assert all(a >= b for a, b in zip(risk, risk[1:]))


# --- STL decomposition ---------------------------------------------------------


def test_stl_constant_series_decomposes_to_zero(spark, tmp_path):
    """14 consecutive constant days: trend = the constant on the
    middle 8 days (NULL at the 3-row edges), seasonal and residual
    exactly 0 there."""
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "view", 5.0, None)
        for i in range(14)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = _write(ev, tmp_path, "events")
    out = {r["ds"].day: r for r in r6.stl_decomposition_daily_events(spark, sf).collect()}
    assert len(out) == 14
    for day, r in out.items():
        if 4 <= day <= 11:  # full 7-row frame
            assert r["trend"] == 5.0
            assert r["seasonal"] == 0.0
            assert r["residual"] == 0.0
        else:
            assert r["trend"] is None
            assert r["seasonal"] is None
            assert r["residual"] is None


# --- decision stump -------------------------------------------------------------


def test_stump_perfect_split_gain_is_parent_entropy(spark, tmp_path):
    """value 1..100, purchase iff value > 50: the 50.5 grid threshold
    splits perfectly, info gain = H(0.5) = 1.0 bit."""
    rows = [
        (i, dt.datetime(2024, 1, 1), 1,
         "purchase" if i > 50 else "view", float(i), None)
        for i in range(1, 101)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = _write(ev, tmp_path, "events")
    out = r6.stump_split_events(spark, sf).collect()
    assert len(out) == 19
    best = max(out, key=lambda r: r["info_gain"])
    assert best["info_gain"] == 1.0
    assert best["n_l"] == 50 and best["n_r"] == 50
    assert best["purchase_rate_left"] == 0.0
    assert best["purchase_rate_right"] == 1.0
    assert all(0.0 <= r["info_gain"] <= 1.0 for r in out)


# --- Markov stationary ----------------------------------------------------------


def test_markov_two_state_alternating_chain(spark, tmp_path):
    """A->B->A->B...: P is the swap matrix, the uniform start is
    already stationary: both states at 0.5."""
    rows = [
        (i, dt.datetime(2024, 1, 1, 0, i), 1,
         "click" if i % 2 == 0 else "view", 1.0, None)
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    sf = _write(ev, tmp_path, "events")
    out = {
        r["event_type"]: r["stationary_prob"]
        for r in r6.markov_stationary_events(spark, sf).collect()
    }
    assert out == {"click": 0.5, "view": 0.5}


def test_markov_sums_to_one_on_real_data(spark):
    rows = r6.markov_stationary_events(spark, SF).collect()
    assert rows
    assert abs(sum(r["stationary_prob"] for r in rows) - 1.0) < 1e-4


# --- PCA power iteration --------------------------------------------------------


def test_pca_axis_aligned_variance(spark, tmp_path):
    """Variance concentrated on dim 0 (other 7 leading dims constant):
    the leading component is ±e0, sign-fixed positive, explaining all
    the leading-block variance."""
    vecs = [
        (i, [float(i)] + [1.0] * 63) for i in range(40)
    ]
    embs = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>"
    )
    sf = _write(embs.withColumn("label", F.lit(0)), tmp_path, "embeddings")
    rows = {r["dim"]: r for r in r6.pca_power_iteration_embeddings(spark, sf).collect()}
    assert len(rows) == 8
    assert rows[0]["loading"] == 1.0
    for d in range(1, 8):
        assert rows[d]["loading"] == 0.0
    assert rows[0]["explained_share"] == 1.0


def test_pca_unit_norm_on_real_data(spark):
    rows = r6.pca_power_iteration_embeddings(spark, SF).collect()
    assert len(rows) == 8
    nrm2 = sum(r["loading"] ** 2 for r in rows)
    assert abs(nrm2 - 1.0) < 1e-3
    assert 0.0 <= rows[0]["explained_share"] <= 1.0 + 1e-9
    # deterministic sign: first nonzero loading is positive
    first_nz = next(
        r["loading"] for r in sorted(rows, key=lambda r: r["dim"])
        if r["loading"] != 0.0
    )
    assert first_nz > 0


# --- calibration curve ----------------------------------------------------------


def test_calibration_bins_bounded(spark):
    rows = r6.calibration_curve_documents(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["score_bin"] <= 9
        assert 0 <= r["n_dups"] <= r["n_docs"]
        assert 0.0 <= r["dup_rate"] <= 1.0


def test_calibration_exact_dups_flagged(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "same text here", "en", "a", 14),
            (2, "same text here", "en", "b", 14),
            (3, "a unique document", "en", "a", 17),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    rows = r6.calibration_curve_documents(spark, sf).collect()
    assert sum(r["n_docs"] for r in rows) == 3
    assert sum(r["n_dups"] for r in rows) == 2


# --- stylometry -----------------------------------------------------------------


def test_stylometry_pairs_ordered_and_nonnegative(spark):
    rows = r6.stylometry_delta_sources(spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert r["delta"] >= 0.0


def test_stylometry_identical_sources_zero_delta(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "s1", 16),
            (2, "alpha beta gamma", "en", "s2", 16),
            (3, "delta epsilon zeta", "en", "s3", 18),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    rows = {
        (r["source_a"], r["source_b"]): r["delta"]
        for r in r6.stylometry_delta_sources(spark, sf).collect()
    }
    assert rows[("s1", "s2")] == 0.0  # identical token profiles
    assert rows[("s1", "s3")] > 0.0


# --- KS matrix ------------------------------------------------------------------


def test_ks_matrix_bounds_and_identical_sources(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "aaaa", "en", "s1", 4),
            (2, "bbbb", "en", "s2", 4),
            (3, "cccccccc", "en", "s3", 8),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    sf = _write(docs, tmp_path, "documents")
    rows = {
        (r["source_a"], r["source_b"]): r["ks_d"]
        for r in r6.ks_matrix_sources(spark, sf).collect()
    }
    assert rows[("s1", "s2")] == 0.0  # identical length distributions
    assert rows[("s1", "s3")] == 1.0  # disjoint supports
    assert all(0.0 <= d <= 1.0 for d in rows.values())


def test_ks_matrix_real_data_shape(spark):
    rows = r6.ks_matrix_sources(spark, SF).collect()
    assert rows
    assert all(0.0 <= r["ks_d"] <= 1.0 for r in rows)
    assert all(r["source_a"] < r["source_b"] for r in rows)


# --- shrunk dup rates -----------------------------------------------------------


def test_shrunk_rates_pull_toward_pooled(spark):
    rows = r6.shrunk_dup_rates_sources(spark, SF).collect()
    assert rows
    pooled = sum(r["n_dups"] for r in rows) / sum(r["n_docs"] for r in rows)
    for r in rows:
        raw, shrunk = r["raw_rate"], r["shrunk_rate"]
        assert 0.0 <= shrunk <= 1.0
        # shrinkage moves every estimate toward (or onto) the pooled rate
        assert abs(shrunk - pooled) <= abs(raw - pooled) + 1e-9


# --- simhash vs minhash agreement -----------------------------------------------


def test_agreement_counts_consistent(spark):
    row = r6.simhash_vs_minhash_agreement_documents(spark, SF).collect()[0]
    assert row["n_both"] <= min(row["n_minhash"], row["n_simhash"])
    union = row["n_minhash"] + row["n_simhash"] - row["n_both"]
    if union:
        assert row["pair_jaccard"] == round(row["n_both"] / union, 6)


# --- conformal bands ------------------------------------------------------------


def test_conformal_coverage_bounds(spark):
    rows = r6.conformal_band_events(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["lo"] <= r["hi"]
        assert 0.0 <= r["coverage"] <= 1.0
        assert r["n_test"] > 0


def test_conformal_split_is_disjoint_and_deterministic(spark):
    a = {
        (r["event_type"]): (r["lo"], r["hi"], r["n_test"], r["coverage"])
        for r in r6.conformal_band_events(spark, SF).collect()
    }
    b = {
        (r["event_type"]): (r["lo"], r["hi"], r["n_test"], r["coverage"])
        for r in r6.conformal_band_events(spark, SF).collect()
    }
    assert a == b  # id-parity split, no randomness


# --- two-component PCA ----------------------------------------------------------


def test_pca2_components_orthogonal_unit(spark):
    rows = r6.pca_two_components_embeddings(spark, SF).collect()
    assert len(rows) == 8
    n1 = sum(r["pc1"] ** 2 for r in rows)
    n2 = sum(r["pc2"] ** 2 for r in rows)
    dot = sum(r["pc1"] * r["pc2"] for r in rows)
    assert abs(n1 - 1.0) < 1e-3 and abs(n2 - 1.0) < 1e-3
    # FIXED-iteration power iteration (deterministic, oracle-matched)
    # is not the exact eigenvector on near-isotropic data; deflation
    # inherits v1's residual error, so orthogonality is approximate.
    assert abs(dot) < 0.15
    ev1 = rows[0]["share_1"]
    ev2 = rows[0]["share_2"]
    assert ev1 >= ev2 >= 0.0
    assert ev1 + ev2 <= 1.0 + 1e-6  # variance shares


def test_pca2_two_axes_fixture(spark, tmp_path):
    """Variance on dims 0 (large) and 1 (small), others constant:
    PC1 = e0, PC2 = e1, eigenvalues in that order."""
    vecs = [
        (i, [float(i), float(i % 4), 1.0] + [1.0] * 61) for i in range(40)
    ]
    embs = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<float>"
    )
    sf = _write(embs.withColumn("label", F.lit(0)), tmp_path, "embeddings")
    rows = {r["dim"]: r for r in r6.pca_two_components_embeddings(spark, sf).collect()}
    assert abs(rows[0]["pc1"]) >= 0.999
    assert abs(rows[1]["pc2"]) >= 0.99
    assert rows[0]["share_1"] > rows[0]["share_2"] > 0.0


# --- Good-Turing ----------------------------------------------------------------


def test_good_turing_integer_exact(spark):
    rows = {r["r"]: r for r in r6.good_turing_documents(spark, SF).collect()}
    assert rows  # bigram spectrum is nonempty on the fixture
    for r, row in rows.items():
        assert 1 <= r <= 5
        assert row["n_types"] >= 1
        if r == 1:
            assert row["p0_unseen_mass"] is not None
            assert 0.0 <= row["p0_unseen_mass"] <= 1.0
        else:
            assert row["p0_unseen_mass"] is None


# --- Gumbel fit -----------------------------------------------------------------


def test_gumbel_fit_loc_below_mean(spark):
    row = r6.gumbel_fit_daily_events(spark, SF).collect()[0]
    assert row["n_days"] > 0
    assert row["gumbel_scale"] >= 0.0
    # loc = mean - gamma*scale <= mean
    assert row["gumbel_loc"] <= row["mean_daily_max"]


# --- Hill tail index ------------------------------------------------------------


def test_hill_positive_and_alpha_inverse(spark):
    rows = r6.hill_tail_index_orders(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] <= 50
    assert r["n_excess"] < r["k"]
    assert r["hill"] > 0.0
    assert r["alpha"] == round(1.0 / r["hill"], 6)
