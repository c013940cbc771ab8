"""Statistical-mining family: BPE pair counts, deterministic shuffle
manifests, equi-depth histograms, chi-square independence, Benford
screens, FD conflict mining — each oracle-checked against DuckDB plus
invariant or brute-force property tests.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import tokenizer
from nasa_asteroid_data_lakehouse_spark.plans import stats_queries as sq
from tests.oracle import assert_matches_oracle


# --- oracle parity (same SQL the driver runs) --------------------------------


def test_bpe_pair_counts_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.bpe_pair_counts_documents(spark, sf_dir),
        sq.BPE_PAIR_COUNTS_SQL,
        sf_dir,
    )


def test_shuffle_manifest_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.shuffle_manifest_documents(spark, sf_dir),
        sq.SHUFFLE_MANIFEST_SQL,
        sf_dir,
    )


def test_equidepth_histogram_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.equidepth_histogram_orders(spark, sf_dir),
        sq.EQUIDEPTH_SQL,
        sf_dir,
    )


def test_chi_square_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.chi_square_events(spark, sf_dir), sq.CHI_SQUARE_SQL, sf_dir
    )


def test_benford_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.benford_orders(spark, sf_dir), sq.BENFORD_SQL, sf_dir
    )


def test_metadata_conflicts_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.metadata_conflicts_documents(spark, sf_dir),
        sq.METADATA_CONFLICTS_SQL,
        sf_dir,
    )


# --- BPE primitives ----------------------------------------------------------


def _brute_pairs(texts: list[str]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for t in texts:
        toks = " ".join(t.lower().split()).split()
        for a, b in zip(toks, toks[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    return counts


def test_pair_counts_brute_force(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    got = {
        (r["a"], r["b"]): r["pair_count"]
        for r in tokenizer.pair_counts(docs).collect()
    }
    texts = [r["text"] for r in docs.select("text").collect() if r["text"]]
    assert got == _brute_pairs(texts)


# --- invariants --------------------------------------------------------------


def test_shuffle_manifest_is_permutation(spark, sf_smoke):
    got = sq.shuffle_manifest_documents(spark, sf_smoke).toPandas()
    n_docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").count()
    assert len(got) == n_docs
    assert got["doc_id"].is_unique
    for shard, grp in got.groupby("shard"):
        assert sorted(grp["shard_pos"]) == list(range(1, len(grp) + 1))
        # within-shard order follows the shuffle key
        ordered = grp.sort_values("shard_pos")
        assert list(ordered["shuffle_key"]) == sorted(ordered["shuffle_key"])


def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    got = sq.equidepth_histogram_orders(spark, sf_dir).toPandas()
    assert list(got["bucket"]) == list(range(10))
    total = got["n"].sum()
    # equal-frequency up to boundary-tie slack
    assert got["n"].max() <= total / 10 * 1.2
    assert got["n"].min() >= total / 10 * 0.8
    # contiguous, non-overlapping value ranges
    for i in range(1, len(got)):
        assert got.loc[i, "lo"] >= got.loc[i - 1, "hi"]


def test_equidepth_sketch_path_depth_bound(spark, sf_dir):
    """The percentile_approx scale path yields the same schema and
    near-equal bucket depths (GK rank error << bucket width here)."""
    from nasa_asteroid_data_lakehouse_spark.operators import stats as ops

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_totalprice")
        .where(F.col("o_totalprice").isNotNull())
    )
    approx = ops.equidepth_histogram(
        orders, "o_totalprice", buckets=10, exact=False
    ).toPandas()
    exact = ops.equidepth_histogram(orders, "o_totalprice", buckets=10).toPandas()
    assert list(approx.columns) == list(exact.columns)
    assert approx["n"].sum() == exact["n"].sum()
    target = approx["n"].sum() / 10
    assert (abs(approx["n"] - target) <= target * 0.1 + 10).all()


def test_chi_square_decomposition_consistent(spark, sf_dir):
    got = (
        sq.chi_square_events(spark, sf_dir)
        .toPandas()
        .sort_values(["row_key", "col_key"])
        .reset_index(drop=True)
    )
    # expected matrix preserves the grand total
    assert math.isclose(got["expected"].sum(), got["observed"].sum(), rel_tol=1e-6)
    assert (got["contrib"] >= 0).all()
    # the running sum is monotone and ends at the table statistic
    assert got["cum_chi_square"].is_monotonic_increasing
    assert math.isclose(
        got["contrib"].sum(), got["cum_chi_square"].iloc[-1], rel_tol=1e-4
    )


def test_benford_shares_and_support(spark, sf_dir):
    got = sq.benford_orders(spark, sf_dir).toPandas()
    assert set(got["digit"]) <= set(range(1, 10))
    assert math.isclose(got["observed_share"].sum(), 1.0, abs_tol=1e-4)
    expected_full = sum(math.log10(1 + 1 / d) for d in range(1, 10))
    assert math.isclose(expected_full, 1.0, abs_tol=1e-12)


def test_market_basket_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.market_basket_lineitem(spark, sf_dir), sq.MARKET_BASKET_SQL, sf_dir
    )


def test_cusum_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.cusum_daily_events(spark, sf_dir), sq.CUSUM_SQL, sf_dir
    )


def test_autocorrelation_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.autocorrelation_daily_events(spark, sf_dir), sq.AUTOCORR_SQL, sf_dir
    )


def test_ab_test_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.ab_test_events(spark, sf_dir), sq.AB_TEST_SQL, sf_dir
    )


def test_market_basket_lift_identity(spark, sf_dir):
    """lift == support(a,b) / (support(a) * support(b)) recomputed from
    the emitted counts; pair counts bounded by each side's count."""
    got = sq.market_basket_lineitem(spark, sf_dir).toPandas()
    assert (got["pair_groups"] <= got[["n_a", "n_b"]].min(axis=1)).all()
    n_groups = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for _, r in got.iterrows():
        lift = (r["pair_groups"] * n_groups) / (r["n_a"] * r["n_b"])
        assert math.isclose(lift, r["lift"], rel_tol=1e-4)


def test_cusum_ends_near_zero_and_single_peak_value(spark, sf_dir):
    """CUSUM of deviations from the series mean telescopes to ~0 at the
    last point; the peak flag marks exactly the max-|CUSUM| rows."""
    got = sq.cusum_daily_events(spark, sf_dir).toPandas().sort_values("day")
    assert abs(got["cusum"].iloc[-1]) < 1e-3
    peak = got["cusum"].abs().max()
    flagged = got[got["is_peak"]]
    assert len(flagged) >= 1
    assert all(abs(abs(v) - peak) < 1e-9 for v in flagged["cusum"])


def test_autocorrelation_bounds(spark, sf_dir):
    got = sq.autocorrelation_daily_events(spark, sf_dir).toPandas()
    assert set(got["lag"]) == {1, 7}
    assert (got["autocorr"].abs() <= 1.0 + 1e-9).all()


def test_ab_split_is_deterministic_and_balanced(spark, sf_dir):
    got = sq.ab_test_events(spark, sf_dir).toPandas()
    again = sq.ab_test_events(spark, sf_dir).toPandas()
    assert got.equals(again)
    n_a, n_b = int(got["n_a"][0]), int(got["n_b"][0])
    assert n_a > 0 and n_b > 0
    # md5 split should be near-even
    assert abs(n_a - n_b) / (n_a + n_b) < 0.15
    assert int(got["conv_a"][0]) <= n_a and int(got["conv_b"][0]) <= n_b


def test_lorenz_deciles_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.lorenz_deciles_orders(spark, sf_dir), sq.LORENZ_SQL, sf_dir
    )


def test_new_vs_returning_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.new_vs_returning_users_events(spark, sf_dir),
        sq.NEW_RETURNING_SQL,
        sf_dir,
    )


def test_lorenz_plan_has_no_unpartitioned_ntile(spark, sf_dir):
    """The engine form must reproduce NTILE via the bucketed exact-rank
    path (VERDICT r05 ask #2): no ntile expression anywhere, and every
    Window whose input is the O(customers) table is partitioned by the
    coarse bucket — the only unpartitioned windows left run over the
    bounded bucket/decile tables."""
    plan = (
        sq.lorenz_deciles_orders(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert not re.search(r"(?<![a-z])ntile\(", plan.lower())
    # the per-customer row_number must be bucket-partitioned
    rn_windows = [
        ln for ln in plan.splitlines() if "row_number()" in ln
    ]
    assert rn_windows, plan
    assert all("__bkt" in ln for ln in rn_windows), "\n".join(rn_windows)


def test_lorenz_is_a_lorenz_curve(spark, sf_dir):
    """Shares sum to 1, cumulative share is monotone and concave-ish
    (decile 1 holds the largest share since ordering is spend-desc)."""
    got = sq.lorenz_deciles_orders(spark, sf_dir).toPandas()
    assert list(got["decile"]) == list(range(1, 11))
    assert math.isclose(got["rev_share"].sum(), 1.0, abs_tol=1e-4)
    assert got["cum_rev_share"].is_monotonic_increasing
    assert math.isclose(got["cum_rev_share"].iloc[-1], 1.0, abs_tol=1e-6)
    assert got["rev_share"].iloc[0] == got["rev_share"].max()


def test_new_vs_returning_accounting(spark, sf_dir):
    """new + returning == active each day; total new across days ==
    distinct users; day one is all-new."""
    got = sq.new_vs_returning_users_events(spark, sf_dir).toPandas()
    assert (
        got["new_users"] + got["returning_users"] == got["active_users"]
    ).all()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert got["new_users"].sum() == n_users
    assert got.sort_values("day").iloc[0]["returning_users"] == 0


def test_runs_test_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.runs_test_daily_events(spark, sf_dir), sq.RUNS_TEST_SQL, sf_dir
    )


def test_cohort_ltv_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        sq.cohort_ltv_orders(spark, sf_dir), sq.COHORT_LTV_SQL, sf_dir
    )


def test_runs_test_brute_force(spark, sf_dir):
    """n_runs/n_above/n_below reproduce a pandas recount of the same
    above/below-median sign sequence."""
    got = sq.runs_test_daily_events(spark, sf_dir).toPandas().iloc[0]
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .toPandas()
        .sort_values("day")
    )
    med = daily["x"].quantile(0.5, interpolation="linear")
    signs = [x > med for x in daily["x"] if x != med]
    runs = sum(
        1 for i, s in enumerate(signs) if i == 0 or s != signs[i - 1]
    )
    assert int(got["n_above"]) == sum(signs)
    assert int(got["n_below"]) == len(signs) - sum(signs)
    assert int(got["n_runs"]) == runs


def test_cohort_ltv_triangle_shape(spark, sf_dir):
    """Age-0 cells cover every cohort's full customer count (each
    customer orders in their first month by construction), later ages
    never exceed the cohort size, and revenue accounting closes."""
    got = sq.cohort_ltv_orders(spark, sf_dir).toPandas()
    assert (got["age_months"] >= 0).all()
    base = got[got["age_months"] == 0].set_index(
        ["cohort_year", "cohort_month"]
    )["n_customers"]
    for (y, m), grp in got.groupby(["cohort_year", "cohort_month"]):
        assert (grp["n_customers"] <= base[(y, m)]).all()
    n_orders_total = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(
            F.col("o_custkey").isNotNull()
            & F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .count()
    )
    assert got["n_orders"].sum() == n_orders_total


def test_metadata_conflicts_flags_match_counts(spark, sf_dir):
    got = sq.metadata_conflicts_documents(spark, sf_dir).toPandas()
    assert (got["n_rows"] > 1).all()
    assert ((got["n_lang"] > 1) == got["lang_conflict"]).all()
    assert ((got["n_source"] > 1) == got["source_conflict"]).all()


def test_equidepth_drops_null_values(spark):
    """NULL value rows must not inflate bucket 0 (ADVICE r02): the
    operator filters them before both the boundary and assignment
    passes."""
    from nasa_asteroid_data_lakehouse_spark.operators import stats as ops

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)] + [(None,)] * 37,
        "v double",
    )
    got = ops.equidepth_histogram(df, "v", buckets=4).toPandas()
    assert int(got["n"].sum()) == 100
    assert sorted(got["bucket"]) == [0, 1, 2, 3]
    assert all(int(n) == 25 for n in got["n"])
