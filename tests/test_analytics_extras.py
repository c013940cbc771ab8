"""SCD2 history, rolling z-score anomalies, funnel, REGR_* stats, and
blocked fuzzy entity matching — each oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.operators.entity import blocked_fuzzy_pairs
from nasa_asteroid_data_lakehouse_spark.operators.scd import scd2_compress
from nasa_asteroid_data_lakehouse_spark.plans import analytics_queries as aq
from tests.oracle import assert_matches_oracle


def test_scd2_user_status_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.scd2_user_status(spark, sf_dir), aq.SCD2_SQL, sf_dir
    )


def test_scd2_intervals_are_well_formed(spark, sf_smoke):
    events = read_table(spark, sf_smoke, "events")
    hist = scd2_compress(
        events, ["user_id"], "event_type", "ts", tiebreak=["event_id"]
    ).cache()
    try:
        # exactly one current row per user
        cur = hist.where("is_current").groupBy("user_id").count()
        assert cur.where("count != 1").count() == 0
        # valid_from < valid_to on closed intervals, versions contiguous
        assert hist.where("valid_to IS NOT NULL AND valid_from >= valid_to").count() == 0
        vmax = hist.groupBy("user_id").agg(
            F.max("version").alias("mx"), F.count(F.lit(1)).alias("n")
        )
        assert vmax.where("mx != n").count() == 0
        # adjacent runs never share an event_type (compression is maximal)
        nxt = hist.select(
            "user_id", "version", F.col("event_type").alias("et")
        ).withColumn("version", F.col("version") - 1)
        same = hist.join(nxt, ["user_id", "version"]).where(
            F.col("event_type") == F.col("et")
        )
        assert same.count() == 0
    finally:
        hist.unpersist()


def test_anomaly_daily_events_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.anomaly_daily_events(spark, sf_dir), aq.ANOMALY_SQL, sf_dir
    )


def test_funnel_events_matches_oracle(spark, sf_dir):
    assert_matches_oracle(aq.funnel_events(spark, sf_dir), aq.FUNNEL_SQL, sf_dir)


def test_funnel_is_monotone_decreasing(spark, sf_smoke):
    rows = aq.funnel_events(spark, sf_smoke).orderBy("step_no").collect()
    users = [r["users"] for r in rows]
    assert len(users) == 4
    assert all(a >= b for a, b in zip(users, users[1:]))


def test_regression_stats_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.regression_stats_lineitem(spark, sf_dir), aq.REGRESSION_SQL, sf_dir
    )


def test_fuzzy_part_name_pairs_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.fuzzy_part_name_pairs(spark, sf_dir), aq.FUZZY_SQL, sf_dir
    )


def test_blocked_fuzzy_pairs_blocks_and_bounds(spark, sf_smoke):
    part = read_table(spark, sf_smoke, "part")
    pairs = blocked_fuzzy_pairs(
        part, "p_name", F.split(F.col("p_name"), " ").getItem(1), 1, 3
    ).collect()
    assert pairs, "expected at least one near-match pair"
    for r in pairs:
        assert 1 <= r["distance"] <= 3
        assert r["name_a"] < r["name_b"]
        # blocking key (the noun) must agree
        assert r["name_a"].split(" ")[1] == r["name_b"].split(" ")[1]


def test_file_skipping_stats_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.file_skipping_stats_orders(spark, sf_dir),
        aq.FILE_SKIPPING_SQL,
        sf_dir,
    )


def test_prunable_files_is_safe(spark, sf_smoke, tmp_path):
    """Reading ONLY the must_read files loses no matching rows."""
    from nasa_asteroid_data_lakehouse_spark.lake.stats import (
        collect_file_stats,
        prunable_files,
    )

    orders = read_table(spark, sf_smoke, "orders")
    path = str(tmp_path / "orders_files")
    # several files so pruning has something to skip
    orders.repartitionByRange(8, "o_totalprice").write.parquet(path)

    back = spark.read.parquet(path)
    stats = collect_file_stats(back, ["o_totalprice"])
    lo, hi = 50_000.0, 60_000.0
    marked = prunable_files(stats, "o_totalprice", lo, hi).collect()
    keep = {r["file"] for r in marked if r["must_read"]}
    assert 0 < len(keep) < len(marked), "range-partitioned files must prune"

    kept_rows = (
        back.withColumn(
            "f",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        )
        .where(F.col("f").isin(keep))
        .where(F.col("o_totalprice").between(lo, hi))
        .count()
    )
    all_rows = orders.where(F.col("o_totalprice").between(lo, hi)).count()
    assert kept_rows == all_rows


def test_dq_report_orders_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.dq_report_orders(spark, sf_dir), aq.DQ_REPORT_SQL, sf_dir
    )


def test_expectations_flag_violations(spark, sf_smoke):
    from nasa_asteroid_data_lakehouse_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (2, 3.0), (None, 1.0)],
        "k long, v double",
    )
    rep = {r["rule"]: r for r in ex.check(
        df, {"k_not_null": F.col("k").isNotNull(), "v_positive": F.col("v") > 0}
    ).collect()}
    assert rep["k_not_null"]["violations"] == 1
    assert rep["v_positive"]["violations"] == 1
    assert not rep["v_positive"]["passed"]

    uniq = ex.check_unique(df, ["k"]).collect()[0]
    assert uniq["violations"] == 2  # both members of the k=2 group

    dim = spark.createDataFrame([(1,), (2,)], "k long")
    ref = ex.check_ref_integrity(df, "k", dim, "k").collect()[0]
    assert ref["violations"] == 1  # the null key is an orphan


def test_heavy_hitters_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.heavy_hitters_orders(spark, sf_dir), aq.HEAVY_HITTERS_SQL, sf_dir
    )


def test_heavy_hitters_cumulative_monotone(spark, sf_smoke):
    rows = aq.heavy_hitters_orders(spark, sf_smoke).collect()
    assert len(rows) == 20
    shares = [r["cumulative_share"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(shares, shares[1:]))
    assert shares[-1] <= 1.0 + 1e-9


def test_trailing_week_revenue_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        aq.trailing_week_revenue(spark, sf_dir), aq.TRAILING_WEEK_SQL, sf_dir
    )


def test_cross_source_dup_matrix_matches_oracle(spark, sf_dir):
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as lq

    assert_matches_oracle(
        lq.cross_source_dup_matrix_documents(spark, sf_dir),
        lq.CROSS_SOURCE_DUP_SQL,
        sf_dir,
    )


def test_scd2_keeps_leading_null_attribute_run(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.scd import scd2_compress

    df = spark.createDataFrame(
        [(1, 10, None), (1, 20, None), (1, 30, "a"), (2, 5, "b")],
        "k long, t long, attr string",
    )
    hist = {
        (r["k"], r["version"]): (r["attr"], r["valid_from"], r["is_current"])
        for r in scd2_compress(df, ["k"], "attr", "t").collect()
    }
    # the leading null-attr run must survive as version 1
    assert hist[(1, 1)] == (None, 10, False)
    assert hist[(1, 2)] == ("a", 30, True)
    assert hist[(2, 1)] == ("b", 5, True)
    assert len(hist) == 3


def test_blocked_fuzzy_pairs_no_broadcast_matches(spark, sf_smoke):
    part = read_table(spark, sf_smoke, "part")
    blk = F.split(F.col("p_name"), " ").getItem(1)
    with_bc = {
        (r["name_a"], r["name_b"], r["distance"])
        for r in blocked_fuzzy_pairs(part, "p_name", blk, 1, 3).collect()
    }
    without_bc = {
        (r["name_a"], r["name_b"], r["distance"])
        for r in blocked_fuzzy_pairs(
            part, "p_name", blk, 1, 3, broadcast_names=False
        ).collect()
    }
    assert with_bc == without_bc and with_bc


def test_expectations_empty_rules_rejected(spark):
    import pytest as _pytest

    from nasa_asteroid_data_lakehouse_spark.operators import expectations as ex

    with _pytest.raises(ValueError):
        ex.check(spark.range(1), {})
