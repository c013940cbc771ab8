"""DSv2 parquet aggregate pushdown (COUNT/MIN/MAX answered from footer
metadata) and runtime bloom filters on shuffle joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def v2_spark(spark):
    """A sibling session whose parquet reads go through DSv2 (required
    for aggregate pushdown; the default useV1SourceList includes
    parquet).  newSession() shares the SparkContext but isolates the
    SQL conf — builder.getOrCreate() would return the SHARED session
    and stopping it would kill the context for every later test."""
    s = spark.newSession()
    s.conf.set("spark.sql.sources.useV1SourceList", "")
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    return s


def test_parquet_aggregate_pushdown(v2_spark, tmp_path):
    """COUNT/MIN/MAX of a raw scan are answered from parquet footer
    statistics — zero data pages read.  At 100 TB that's the difference
    between a metadata round and a full-table scan for table-stats
    queries."""
    path = str(tmp_path / "agg")
    v2_spark.range(100_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(4).write.parquet(path)

    df = v2_spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [COUNT(*), MIN(v), MAX(v)]" in plan
    row = df.first()
    assert (row["n"], row["lo"], row["hi"]) == (100_000, 0, 199_998)


@pytest.fixture()
def bloom_spark(spark):
    """Sibling session (shared context, isolated SQL conf) where
    broadcast is off (forcing shuffle joins) and the runtime
    bloom-filter thresholds are lowered so injection triggers at test
    scale."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    return s


def test_runtime_bloom_filter_injected_on_shuffle_join(bloom_spark, tmp_path):
    """When a selective filter sits on one join side, Catalyst builds a
    bloom filter from it at runtime and pushes might_contain() into the
    other side's scan — rows that can't match die before the exchange.
    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling the ~1% that survives the dim filter; the
    engine gets it for free BECAUSE the plans here stay declarative
    (no collect-and-filter driver loops)."""
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    bloom_spark.range(1_000_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(fact_path)
    bloom_spark.range(10_000).select(
        F.col("id").alias("k"), F.lit("x").alias("attr")
    ).write.parquet(dim_path)

    fact = bloom_spark.read.parquet(fact_path)
    dim = bloom_spark.read.parquet(dim_path).where(F.col("k") % 100 == 0)
    joined = fact.join(dim, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    assert joined.count() == 100  # semantics unchanged by the filter
