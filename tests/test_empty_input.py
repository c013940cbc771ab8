"""Empty-input totality (round-3 robustness sweep).

At 100 TB empty inputs are routine — an empty partition after a
filter, an empty micro-batch, a table created before its first load.
A full-surface probe (scripts/driver_sim.py against a zero-row
schema-preserving copy of the test data) found 8 operator crashes and
8 engine-vs-oracle divergences; these tests pin the operator-level
fixes so they stay fixed.  The sweep itself is one command:

    python scripts/driver_sim.py --empty    # expect FAILURES: 0
"""

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def empty_vecs(spark):
    return spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label string"
    )


def test_vector_dim_empty_and_null(spark, empty_vecs):
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import vector_dim

    assert vector_dim(empty_vecs, "embedding") == 1
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id bigint, embedding array<float>"
    )
    assert vector_dim(nulls, "embedding") == 1
    real = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<float>"
    )
    assert vector_dim(real, "embedding") == 3


def test_query_vector_missing_id(spark, empty_vecs):
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import query_vector

    assert query_vector(empty_vecs, "vec_id", "embedding", 0) is None
    real = spark.createDataFrame(
        [(0, [0.5, 1.5])], "vec_id bigint, embedding array<float>"
    )
    assert query_vector(real, "vec_id", "embedding", 0) == [0.5, 1.5]
    # Missing id (any reason: absent, NULL, NaN vector): None — the
    # probe query's answer is EMPTY, matching the oracle's empty q CTE
    # (ADVICE r04 medium; callers short-circuit to an empty frame).
    assert query_vector(real, "vec_id", "embedding", 99) is None
    nan = spark.createDataFrame(
        [(0, [float("nan"), 1.0])], "vec_id bigint, embedding array<float>"
    )
    assert query_vector(nan, "vec_id", "embedding", 0) is None


def test_ivf_assignment_empty_centroids_nonempty_df_raises(spark):
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import (
        with_ivf_assignment,
    )

    real = spark.createDataFrame(
        [(0, [0.5, 1.5])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty centroid list"):
        with_ivf_assignment(real, [])


def test_kmeans_and_assignment_empty(spark, empty_vecs):
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import (
        seed_centroids,
        semantic_dedup,
        with_ivf_assignment,
    )

    centroids = seed_centroids(empty_vecs, k=4)
    assert centroids == []
    assigned = with_ivf_assignment(empty_vecs, centroids)
    assert assigned.count() == 0
    assert "cluster" in assigned.columns
    assert semantic_dedup(empty_vecs, centroids, threshold=0.9).count() == 0


def test_similarity_ops_empty(spark, empty_vecs):
    from nasa_asteroid_data_lakehouse_spark.llm import similarity as sim

    assert sim.embedding_near_dup_pairs(empty_vecs).count() == 0
    assert sim.lsh_topk(empty_vecs, [0.0]).count() == 0
    assert sim.ann_recall_lsh(empty_vecs, anchor_max_id=10).count() == 0
    assert (
        sim.vector_admit(empty_vecs, empty_vecs, threshold=0.9).count() == 0
    )


def test_versioned_table_empty_create_keeps_schema(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    empty = spark.createDataFrame([], "k bigint, v double")
    t = VersionedTable(spark, str(tmp_path / "vt"), num_buckets=4)
    t.create(empty, keys=["k"])
    back = t.read()
    assert back.columns == ["k", "v"]
    assert back.count() == 0
    # and the table is still usable: an upsert into the empty table
    t.upsert(spark.createDataFrame([(1, 2.0)], "k bigint, v double"))
    assert t.read().count() == 1


def test_rollup_sketches_empty(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    df = spark.createDataFrame([], "seg string, k bigint, x double")
    per = sk.segment_sketches(df, "seg", "k", "x")
    rolled = sk.rollup_sketches(per)
    row = rolled.collect()[0]
    # zero segments: NULL row count, HLL union estimates 0 distinct,
    # NULL-seed KLL fold gives NULL quantiles — and no crash
    assert row["n_rows"] is None
    assert row["distinct_est"] in (None, 0.0)
    assert row["p50_est"] is None


def test_expectations_empty_are_zero_not_null(spark):
    from nasa_asteroid_data_lakehouse_spark.operators import expectations as ex

    empty = spark.createDataFrame([], "k bigint, v double")
    rows = ex.check(empty, {"v_pos": F.col("v") > 0}).collect()
    assert rows[0]["n_rows"] == 0 and rows[0]["violations"] == 0
    assert rows[0]["passed"] is True
    u = ex.check_unique(empty, ["k"]).collect()[0]
    assert u["n_rows"] == 0 and u["violations"] == 0
