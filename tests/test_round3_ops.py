"""Round-3 operators: sequence-level dup spans, stratified split,
inverted index, BM25, exact kNN label agreement, CDC snapshot diff."""

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import dedup, similarity, text
from nasa_asteroid_data_lakehouse_spark.operators import cdc


# --- dup_span_coverage --------------------------------------------------------


def test_dup_span_coverage_shared_trigram(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sleeps"),
            (3, "completely different words here now"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.dup_span_coverage(docs, "doc_id", shingle_k=3).collect()
    }
    # docs 1 and 2 share exactly one trigram: "the quick brown"
    assert out[1]["n_shingles"] == 3 and out[1]["n_dup_shingles"] == 1
    assert out[2]["n_shingles"] == 3 and out[2]["n_dup_shingles"] == 1
    assert out[3]["n_dup_shingles"] == 0 and out[3]["dup_fraction"] == 0.0
    assert abs(out[1]["dup_fraction"] - round(1 / 3, 6)) < 1e-9


def test_dup_span_coverage_identical_docs_fully_covered(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    for r in dedup.dup_span_coverage(docs, "doc_id", shingle_k=3).collect():
        assert r["dup_fraction"] == 1.0


def test_dup_span_coverage_short_doc_single_shingle(spark):
    docs = spark.createDataFrame([(1, "hi"), (2, "hi")], ["doc_id", "text"])
    rows = dedup.dup_span_coverage(docs, "doc_id", shingle_k=3).collect()
    assert all(r["n_shingles"] == 1 and r["n_dup_shingles"] == 1 for r in rows)


# --- train_val_test_split -----------------------------------------------------


def test_split_exact_proportions_and_determinism(spark):
    rows = [(i, "en" if i % 3 else "fr") for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = text.train_val_test_split(df, "doc_id", ["lang"]).collect()
    out2 = text.train_val_test_split(df, "doc_id", ["lang"]).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    import collections

    counts = collections.Counter((r["lang"], r["split"]) for r in out1)
    # fr stratum: 33 rows -> ceil(26.4)=27 train, ceil(29.7)=30 -> 3 val, 3 test
    assert counts[("fr", "train")] == 27
    assert counts[("fr", "val")] == 3
    assert counts[("fr", "test")] == 3
    # en stratum: 67 rows -> ceil(53.6)=54 train, ceil(60.3)=61 -> 7 val, 6 test
    assert counts[("en", "train")] == 54
    assert counts[("en", "val")] == 7
    assert counts[("en", "test")] == 6


def test_split_drops_null_ids_and_validates(spark):
    df = spark.createDataFrame([(None, "en"), (1, "en")], "doc_id long, lang string")
    out = text.train_val_test_split(df, "doc_id", ["lang"]).collect()
    assert [r["doc_id"] for r in out] == [1]
    with pytest.raises(ValueError):
        text.train_val_test_split(df, "doc_id", ["lang"], train_pct=95, val_pct=10)


# --- inverted_index -----------------------------------------------------------


def test_inverted_index_postings_and_caps(spark):
    docs = spark.createDataFrame(
        [(3, "apple banana"), (1, "apple cherry"), (2, "apple apple banana")],
        ["doc_id", "text"],
    )
    out = {r["term"]: r for r in text.inverted_index(
        docs, "doc_id", min_df=2, top_terms=10, postings_cap=2).collect()}
    assert set(out) == {"apple", "banana"}  # cherry has df=1
    assert out["apple"]["df"] == 3
    assert out["apple"]["postings"] == "1,2"  # sorted ascending, capped at 2
    assert out["banana"]["postings"] == "2,3"
    # duplicate tokens inside one doc count once toward df
    assert out["banana"]["df"] == 2


# --- bm25 ---------------------------------------------------------------------


def test_bm25_tf_monotone_and_no_hit_excluded(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler"),
            (2, "spark filler filler filler filler"),
            (3, "nothing relevant at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.bm25_scores(
        docs, "doc_id", ["spark", "absent"]).collect()}
    assert set(out) == {1, 2}  # doc 3 has no query term
    assert out[1]["bm25"] > out[2]["bm25"] > 0  # same dl, higher tf wins
    assert out[1]["tf_0"] == 3 and out[1]["tf_1"] == 0


def test_bm25_length_normalization(spark):
    # same tf, longer doc scores lower
    docs = spark.createDataFrame(
        [(1, "spark " + "pad " * 4), (2, "spark " + "pad " * 40)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.bm25_scores(
        docs, "doc_id", ["spark"]).collect()}
    assert out[1]["bm25"] > out[2]["bm25"]


# --- knn_label_agreement ------------------------------------------------------


def test_knn_label_agreement_separable_clusters(spark):
    # two orthogonal clusters: neighborhoods agree with own label
    rows = [(i, [1.0 + 0.01 * i, 0.0], 0) for i in range(4)]
    rows += [(10 + i, [0.0, 1.0 + 0.01 * i], 1) for i in range(4)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {(r["label"], r["pred_label"]): r["n_vectors"]
           for r in similarity.knn_label_agreement(emb, k=3).collect()}
    assert out == {(0, 0): 4, (1, 1): 4}


def test_knn_vote_tie_breaks_to_smallest_label(spark):
    # vec 0's 2 nearest split 1-1 between labels 5 and 2 -> pred 2
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 9),
            (1, [0.99, 0.1], 5),
            (2, [0.99, -0.1], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r["pred_label"]
           for r in similarity.knn_label_agreement(emb, k=2).collect()}
    assert out[9] == 2


# --- cdc.snapshot_diff --------------------------------------------------------


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (4, None, "D")],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(2, 25.0, "B"), (3, 30.0, "C"), (4, None, "D"), (5, 50.0, "E")],
        "k long, price double, status string",
    )
    out = {r["k"]: r["change_type"] for r in cdc.snapshot_diff(
        old, new, ["k"], ["price", "status"]).collect()}
    assert out == {1: "delete", 2: "update", 5: "insert"}  # 3,4 unchanged


def test_snapshot_diff_null_transitions_and_include_unchanged(spark):
    old = spark.createDataFrame([(1, None), (2, 5.0)], "k long, v double")
    new = spark.createDataFrame([(1, 1.0), (2, None)], "k long, v double")
    rows = cdc.snapshot_diff(old, new, ["k"], ["v"], include_unchanged=True)
    out = {r["k"]: r for r in rows.collect()}
    assert out[1]["change_type"] == "update"  # NULL -> value IS a change
    assert out[2]["change_type"] == "update"
    assert out[1]["old_v"] is None and out[1]["new_v"] == 1.0


# --- pagerank -----------------------------------------------------------------


def test_pagerank_star_center_dominates(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.graph import pagerank

    # star: node 0 connected to 1..4; plus an isolated pair 10-11
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(10, 11)], ["src", "dst"]
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}
    center, leaf = out[0], out[1]
    assert center > leaf  # hub accumulates authority
    assert out[1] == out[2] == out[3] == out[4]  # symmetry
    assert out[10] == out[11]
    # pair nodes have deg-1 neighbors passing full rank: converge to 1.0
    assert abs(out[10] - 1.0) < 1e-6


def test_pagerank_deterministic_across_runs(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.graph import pagerank

    import random

    rnd = random.Random(7)
    rows = [(rnd.randrange(50), rnd.randrange(50)) for _ in range(200)]
    rows = [(a, b) for a, b in rows if a != b]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    r1 = sorted(map(tuple, pagerank(edges, iterations=5).collect()))
    r2 = sorted(map(tuple, pagerank(edges.repartition(13), iterations=5).collect()))
    assert r1 == r2  # lattice rounding kills reduction-order noise


# --- ewma ---------------------------------------------------------------------


def test_ewma_boundary_renormalizes(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.timeseries import ewma

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0)],
        "k string, t int, v double",
    )
    out = {r["t"]: r["ewma"] for r in ewma(df, ["k"], "t", "v", alpha=0.5,
                                           lags=3).collect()}
    assert out[1] == 10.0  # first row: only its own weight -> itself
    # second row: (0.5*20 + 0.25*10) / 0.75
    assert abs(out[2] - round((0.5 * 20 + 0.25 * 10) / 0.75, 6)) < 1e-9
    # third row: full window
    assert abs(out[3] - round((0.5 * 30 + 0.25 * 20 + 0.125 * 10) / 0.875, 6)) < 1e-9


def test_ewma_single_window_in_plan(spark):
    from nasa_asteroid_data_lakehouse_spark.operators.timeseries import ewma

    df = spark.range(100).select(
        F.lit("k").alias("k"), F.col("id").alias("t"),
        F.col("id").cast("double").alias("v")
    )
    plan = ewma(df, ["k"], "t", "v", lags=7)._jdf.queryExecution() \
        .executedPlan().toString()
    # all 7 lags share one window spec -> exactly one Window node
    assert plan.count("Window [") == 1


# --- review-fix regressions ---------------------------------------------------


def test_snapshot_diff_membership_only_and_validation(spark):
    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r["k"]: r["change_type"]
           for r in cdc.snapshot_diff(old, new, ["k"], []).collect()}
    assert out == {1: "delete", 3: "insert"}  # keys-only diff works
    with pytest.raises(ValueError):
        cdc.snapshot_diff(old, new, [], ["k"])


def test_datasource_windows_validation():
    from nasa_asteroid_data_lakehouse_spark.sources import pyds

    with pytest.raises(ValueError):
        pyds._windows("2024-01-01", "2024-01-10", 0)


def test_staged_swap_failure_keeps_table(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.operators.merge import staged_swap

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)

    def bad_write(staging):
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError):
        staged_swap(path, bad_write)
    # table untouched, no staging orphans
    assert spark.read.parquet(path).count() == 10
    import glob

    assert not glob.glob(f"{path}__*")


# --- longest_common_spans -----------------------------------------------------


def test_longest_common_spans_diagonal_runs(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta unique1 tail1"),
            (2, "prefix2 alpha beta gamma delta epsilon zeta other2"),
            (3, "totally different words in this document here"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]): r for r in dedup.longest_common_spans(
        docs, "doc_id", shingle_k=3, min_span_words=4).collect()}
    # docs 1,2 share the 6-word run "alpha beta gamma delta epsilon zeta"
    assert set(out) == {(1, 2)}
    assert out[(1, 2)]["span_words"] == 6
    assert out[(1, 2)]["n_spans"] == 1


def test_longest_common_spans_two_separate_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "one two three four gap1 gap2 five six seven eight"),
            (2, "one two three four xdiv ydiv five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.longest_common_spans(
        docs, "doc_id", shingle_k=3, min_span_words=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r["span_words"] == 4 and r["n_spans"] == 2  # two disjoint 4-word spans


def test_longest_common_spans_below_threshold_empty(spark):
    docs = spark.createDataFrame(
        [(1, "shared pair here plus other stuff"),
         (2, "shared pair gone with different ending")],
        ["doc_id", "text"],
    )
    # only a 2-word overlap -> longest trigram run < 4 words
    assert dedup.longest_common_spans(
        docs, "doc_id", shingle_k=3, min_span_words=4).count() == 0
