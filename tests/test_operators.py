"""Unit tests for the core relational operators (SURVEY.md §2 B/C/D/E/F/G/K)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from nasa_asteroid_data_lakehouse_spark import operators as ops
from nasa_asteroid_data_lakehouse_spark.functions import (
    surrogate_key,
    with_calendar_parts,
)


@pytest.fixture(scope="module")
def messy(spark):
    return spark.createDataFrame(
        [
            (1, "  alpha  ", "NULL", 1.5),
            (2, "beta", "x", None),
            (3, "", "Null", 2.0),
            (3, "", "Null", 2.0),
            (4, None, "  keep ", 3.0),
        ],
        ["id", "a", "b", "v"],
    )


def test_normalize_placeholders_trims_and_nulls(messy):
    out = ops.normalize_placeholders(messy)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["a"] == "alpha" and rows[1]["b"] is None
    assert rows[3]["a"] is None and rows[3]["b"] is None
    assert rows[4]["b"] == "keep"
    # types preserved: numeric column untouched (the reference's
    # all-strings silver bug must NOT reproduce)
    assert dict(out.dtypes)["v"] == "double"
    assert rows[2]["v"] is None


def test_normalize_placeholders_only_strings(messy):
    out = ops.normalize_placeholders(messy)
    assert [f.dataType for f in out.schema.fields] == [
        f.dataType for f in messy.schema.fields
    ]


def test_profile_single_pass(messy):
    prof = {r["column"]: r for r in ops.profile(messy).collect()}
    assert prof["a"]["total_count"] == 5
    assert prof["a"]["null_count"] == 1
    assert prof["a"]["distinct_count"] == 3  # "  alpha  ", "beta", ""
    assert prof["v"]["null_count"] == 1
    assert prof["id"]["distinct_count"] == 4


def test_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)], ["k", "tag", "ord"]
    )
    out = ops.dedup_deterministic(df, ["k"], [F.desc("ord")])
    rows = {r["k"]: r["tag"] for r in out.collect()}
    assert rows == {1: "new", 2: "only"}


def test_duplicate_groups(messy):
    dups = ops.duplicate_groups(messy, ["id"]).collect()
    assert len(dups) == 1 and dups[0]["id"] == 3 and dups[0]["dup_count"] == 2


def test_semi_anti_join(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "x"])
    right = spark.createDataFrame([(2,), (3,)], ["k"])
    assert {r["k"] for r in ops.anti_join(left, right, ["k"]).collect()} == {1}


def test_union_by_name_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "only_a"])
    b = spark.createDataFrame([(2, 9.0)], ["k", "only_b"])
    out = ops.union_by_name(a, b)
    assert set(out.columns) == {"k", "only_a", "only_b"}
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["only_b"] is None and rows[2]["only_a"] is None


def test_top_k_and_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1), ("g1", 5), ("g1", 3), ("g2", 9), ("g2", 2)], ["g", "v"]
    )
    top = ops.top_k(df, [F.desc("v")], 2).collect()
    assert [r["v"] for r in top] == [9, 5]
    per = ops.top_k_per_group(df, ["g"], [F.desc("v")], 1)
    assert {(r["g"], r["v"]) for r in per.collect()} == {("g1", 5), ("g2", 9)}


def test_merge_dataframes_incoming_wins(spark):
    old = spark.createDataFrame([(1, "old1"), (2, "old2")], ["k", "val"])
    new = spark.createDataFrame([(2, "new2"), (3, "new3")], ["k", "val"])
    merged = ops.merge_dataframes(old, new, ["k"])
    rows = {r["k"]: r["val"] for r in merged.collect()}
    assert rows == {1: "old1", 2: "new2", 3: "new3"}


def test_save_or_update_table_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    first = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"])
    ops.save_or_update_table(spark, first, path, ["k"])
    second = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"])
    ops.save_or_update_table(spark, second, path, ["k"])
    rows = {r["k"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    # idempotent re-run: same incoming twice leaves one row per key
    ops.save_or_update_table(spark, second, path, ["k"])
    assert spark.read.parquet(path).count() == 3


def test_save_or_update_table_create_keeps_one_row_per_key(spark, tmp_path):
    """A create is a merge against no existing rows: a batch repeating a
    key stores one row for it, as an update would."""
    path = str(tmp_path / "tbl")
    batch = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "val"])
    ops.save_or_update_table(spark, batch, path, ["k"])
    stored = spark.read.parquet(path)
    assert stored.count() == 2
    assert stored.select("k").distinct().count() == 2


def test_save_or_update_table_inferred_schema_keeps_existing_column(spark, tmp_path):
    """With schema=None the existing table's schema is read from its
    files, so a column only the stored rows have survives the merge
    (NULL for incoming rows)."""
    path = str(tmp_path / "tbl")
    wide = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["k", "val", "extra"])
    ops.save_or_update_table(spark, wide, path, ["k"])
    narrow = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"])
    ops.save_or_update_table(spark, narrow, path, ["k"], schema=None)
    stored = spark.read.parquet(path)
    assert "extra" in stored.columns
    rows = {r["k"]: (r["val"], r["extra"]) for r in stored.collect()}
    assert rows == {1: ("a", 10), 2: ("B", None), 3: ("c", None)}


def test_merge_dataframes_drops_helper_columns(spark):
    """``__``-prefixed columns may rank the survivors but never reach
    the merged output."""
    df = spark.createDataFrame([(1, "old", 1), (1, "new", 2)], ["k", "val", "__ts"])
    merged = ops.merge_dataframes(None, df, ["k"], [F.desc("__ts")])
    assert merged.columns == ["k", "val"]
    assert [r["val"] for r in merged.collect()] == ["new"]


def test_surrogate_key_deterministic(spark):
    df = spark.createDataFrame([("Earth",), ("Earth",), ("Mars",)], ["body"])
    out = df.withColumn("sk", surrogate_key("body")).collect()
    sks = {r["body"]: r["sk"] for r in out}
    assert len(sks["Earth"]) == 64
    # known sha256 of "Earth"
    import hashlib

    assert sks["Earth"] == hashlib.sha256(b"Earth").hexdigest()


def test_calendar_parts(spark):
    df = spark.createDataFrame([("2025-12-31 23:59:00",)], ["s"]).select(
        F.to_timestamp("s").alias("ts")
    )
    row = with_calendar_parts(df, "ts").collect()[0]
    assert (row["year"], row["month"], row["day"], row["hour"], row["minute"]) == (
        2025, 12, 31, 23, 59,
    )
    assert row["week_of_year"] == 1  # ISO week: Dec 31 2025 is week 1 of 2026


def test_profile_approx_mode(messy):
    prof = {r["column"]: r for r in ops.profile(messy, exact=False).collect()}
    # HLL estimates are exact at tiny cardinalities
    assert prof["id"]["distinct_count"] == 4
    assert prof["a"]["null_count"] == 1


def test_top_k_per_group_rank_methods(spark):
    df = spark.createDataFrame(
        [("g", 5), ("g", 5), ("g", 3), ("g", 1)], ["g", "v"]
    )
    rn = ops.top_k_per_group(df, ["g"], [F.desc("v")], 2, method="row_number")
    assert rn.count() == 2  # exactly k
    rk = ops.top_k_per_group(df, ["g"], [F.desc("v")], 2, method="rank")
    assert rk.count() == 2  # ties share rank 1; rank 3 (value 3) excluded
    dr = ops.top_k_per_group(df, ["g"], [F.desc("v")], 2, method="dense_rank")
    assert dr.count() == 3  # 5,5 (rank1) + 3 (rank2)


def test_timeseries_fill_gaps(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import timeseries

    import datetime

    t = lambda h: datetime.datetime(2024, 1, 1, h, 0, 0)
    rows = [("a", t(0), 1.0), ("a", t(0), 2.0), ("a", t(3), 4.0), ("b", t(1), 9.0)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    hourly = timeseries.resample(
        df, "ts", ["k"], [F.round(F.sum("v"), 6).alias("sum_v")], interval="1 hour"
    )
    out = timeseries.fill_gaps(hourly, ["k"], "sum_v", interval="1 hour").collect()
    by_key = {(r["k"], r["bucket_ts"].hour): r for r in out}
    # key a spans hours 0..3 -> 4 rows; key b has a single bucket
    assert len([r for r in out if r["k"] == "a"]) == 4
    assert by_key[("a", 0)]["sum_v"] == 3.0 and not by_key[("a", 0)]["is_gap"]
    assert by_key[("a", 1)]["sum_v"] is None and by_key[("a", 1)]["is_gap"]
    assert by_key[("a", 1)]["sum_v_filled"] == 3.0  # forward-filled
    assert by_key[("a", 2)]["sum_v_filled"] == 3.0
    assert by_key[("a", 3)]["sum_v"] == 4.0 and by_key[("a", 3)]["sum_v_filled"] == 4.0
    assert len([r for r in out if r["k"] == "b"]) == 1


def test_timeseries_grid_clip(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import timeseries

    import datetime

    rows = [("a", datetime.datetime(2024, 1, 1), 1.0),
            ("a", datetime.datetime(2030, 1, 1), 2.0)]  # corrupt far-future max
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    hourly = timeseries.resample(df, "ts", ["k"], [F.sum("v").alias("s")], "1 hour")
    out = timeseries.fill_gaps(hourly, ["k"], "s", "1 hour", max_buckets=48)
    assert out.count() == 49  # clipped to max_buckets intervals, not 6 years


def test_winsorize_clips_outliers(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.robust import winsorize

    rows = [("a", float(v)) for v in range(1, 100)] + [("a", 10000.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = winsorize(df, "v", ["g"], lower=0.05, upper=0.95, exact=True)
    got = out.where(F.col("g") == "a")
    mx = got.agg(F.max("v_winsorized")).first()[0]
    hi = got.agg(F.max("v_hi")).first()[0]
    assert mx == hi < 10000.0  # the outlier got clipped to p95
    assert got.agg(F.min("v_winsorized")).first()[0] >= got.agg(F.min("v_lo")).first()[0]
    # approx path: same shape, bounds within a few ranks of exact
    approx = winsorize(df, "v", ["g"], lower=0.05, upper=0.95, exact=False)
    hi_a = approx.where(F.col("g") == "a").agg(F.max("v_hi")).first()[0]
    assert abs(hi_a - hi) <= 5.0
    # single-member group is untouched
    b = out.where(F.col("g") == "b").first()
    assert b["v_winsorized"] == 5.0


def test_sketch_rollup_accuracy(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    per = sk.segment_sketches(orders, "o_orderpriority", "o_custkey", "o_totalprice")
    seg = {r["o_orderpriority"]: r for r in sk.estimate_segments(per).collect()}
    exact = {
        r["o_orderpriority"]: r
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").alias("d"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    for g, r in seg.items():
        assert abs(r["distinct_est"] - exact[g]["d"]) / exact[g]["d"] < 0.05
        assert abs(r["p50_est"] - exact[g]["p50"]) / exact[g]["p50"] < 0.05
        assert abs(r["p95_est"] - exact[g]["p95"]) / exact[g]["p95"] < 0.05
    # the rollup answers global questions from per-segment sketches alone
    rolled = sk.rollup_sketches(per).first()
    g_exact = orders.agg(
        F.count_distinct("o_custkey").alias("d"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
    ).first()
    assert rolled["n_rows"] == orders.count()
    assert abs(rolled["distinct_est"] - g_exact["d"]) / g_exact["d"] < 0.05
    assert abs(rolled["p50_est"] - g_exact["p50"]) / g_exact["p50"] < 0.05


def test_theta_overlap_accuracy(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    per = sk.segment_theta_sketches(orders, "o_orderpriority", "o_custkey")
    est = {
        (r["seg_a"], r["seg_b"]): r
        for r in sk.theta_overlap_matrix(per, "o_orderpriority").collect()
    }
    seg = orders.select(
        F.col("o_orderpriority").alias("seg"), "o_custkey"
    ).distinct()
    a = seg.select(F.col("seg").alias("seg_a"), "o_custkey")
    b = seg.select(F.col("seg").alias("seg_b"), "o_custkey")
    exact = {
        (r["seg_a"], r["seg_b"]): r["n"]
        for r in a.join(b, "o_custkey")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sizes = {
        r["seg"]: r["n"]
        for r in seg.groupBy("seg").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(est) == 10  # 5 priorities -> C(5,2) pairs
    for (sa, sb), r in est.items():
        n_exact = exact[(sa, sb)]
        assert abs(r["intersection_est"] - n_exact) / n_exact < 0.05
        union_exact = sizes[sa] + sizes[sb] - n_exact
        assert abs(r["union_est"] - union_exact) / union_exact < 0.05
        diff_exact = sizes[sa] - n_exact
        assert abs(r["a_minus_b_est"] - diff_exact) / max(diff_exact, 1) < 0.10


def test_count_min_overestimates_and_merges(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    # skewed items: item-i appears i+1 times; tiny width forces collisions
    rows = [(f"item-{i}",) for i in range(60) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "item string")
    counters = sk.count_min_counters(df, "item", depth=3, width=16)
    assert counters.count() <= 3 * 16
    items = df.distinct()
    est = {
        r["item"]: r["cms_est"]
        for r in sk.count_min_estimate(counters, items, "item", depth=3, width=16).collect()
    }
    exact = {f"item-{i}": i + 1 for i in range(60)}
    # CMS never underestimates; with 60 items in 16 buckets some cells collide
    assert all(est[k] >= exact[k] for k in exact)
    assert any(est[k] > exact[k] for k in exact)

    # counters merge by summing matching cells: two halves == whole
    h1 = sk.count_min_counters(df.limit(800), "item", depth=3, width=16)
    h2 = sk.count_min_counters(
        df.exceptAll(df.limit(800)), "item", depth=3, width=16
    )
    merged = (
        h1.unionByName(h2)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["j"], r["bucket"]): r["cnt"] for r in counters.collect()}
    got = {(r["j"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == whole
