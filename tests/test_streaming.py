"""Structured Streaming tests: file-source streams drained with
availableNow, asserted against the equivalent batch computation."""


import pytest

# Deselected by default (pytest.ini addopts -m 'not slow'): streaming replay integrations (multi-batch drains).
# Run with `pytest -m ""` to include; assertions are unchanged.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table


def test_stream_stream_interval_join(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.streaming.events import (
        interval_join_streams,
        read_event_stream,
    )

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    events.where("event_type = 'click'").write.parquet(clicks_dir)
    events.where("event_type = 'purchase'").write.parquet(purch_dir)

    joined = interval_join_streams(
        read_event_stream(spark, clicks_dir, max_files_per_trigger=4),
        read_event_stream(spark, purch_dir, max_files_per_trigger=4),
        max_gap="1 hour",
    )
    out = str(tmp_path / "joined")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "__ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out).count()

    clicks = events.where("event_type = 'click'").alias("c")
    purchases = events.where("event_type = 'purchase'").alias("p")
    expected = clicks.join(
        purchases,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") > F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()

    assert got == expected
    assert got > 0


def test_restart_resume_exactly_once(spark, tmp_path):
    """Exactly-once across query restarts: run availableNow over the
    first batch of files, stop, land more files, restart with the SAME
    checkpoint — the sink must equal one batch pass over everything
    (no reprocessing of already-committed files, no gaps)."""
    from nasa_asteroid_data_lakehouse_spark.streaming.events import (
        read_event_stream,
    )

    events = read_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = out + "__ckpt"

    first = events.where("event_id % 2 = 0")
    second = events.where("event_id % 2 = 1")
    first.write.parquet(src)

    def drain():
        q = (
            read_event_stream(spark, src, max_files_per_trigger=2)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first == first.count()

    second.write.mode("append").parquet(src)
    drain()

    got = spark.read.parquet(out)
    assert got.count() == events.count()  # no gaps, no duplicates
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join: per-batch broadcast of the dim, no state, and
    left-join semantics keep dim-missing events flagged not dropped."""
    from nasa_asteroid_data_lakehouse_spark.streaming.events import enrich_with_dim

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 99, "c")],
        "event_id long, user_id long, payload string",
    ).write.parquet(src)
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(
        "event_id long, user_id long, payload string"
    ).parquet(src)
    enriched = enrich_with_dim(stream, dim, ["user_id"])
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r for r in spark.sql("SELECT * FROM enriched_sink").collect()}
    assert rows[1]["tier"] == "gold" and rows[1]["dim_matched"] is True
    assert rows[2]["tier"] == "silver"
    assert rows[3]["tier"] is None and rows[3]["dim_matched"] is False


def test_streaming_lm_scoring_matches_batch_and_gates(spark, tmp_path):
    """Continuous LM scoring: a document stream scored against a
    static reference corpus' unigram LM in foreachBatch.  The streamed
    scores must equal the batch operator's scores exactly, unseen
    terms floor at count 1 (maximum surprisal ln N), the gate drops
    high-perplexity docs, and replayed ids are not re-appended."""
    import os

    from nasa_asteroid_data_lakehouse_spark.streaming.curation import (
        build_reference_lm,
        score_stream,
        surprisal_score_batch,
    )

    reference = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat " * 3) for i in range(4)]
        + [(200, "dogs chase the cat around the mat")],
        "doc_id long, text string",
    )
    incoming = [
        (1, "the cat sat on the mat"),          # in-distribution: low surprisal
        (2, "zyxqv frobnitz plugh xyzzy"),      # all-unseen: surprisal = ln N
    ]

    src = str(tmp_path / "lm_in")
    os.makedirs(src, exist_ok=True)
    out = str(tmp_path / "lm_scored")
    spark.createDataFrame(incoming, "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        score_stream(spark, stream, reference, out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2}

    # exact agreement with the batch operator on the same LM
    lm, total = build_reference_lm(reference)
    batch = {
        r["doc_id"]: r
        for r in surprisal_score_batch(
            spark.createDataFrame(incoming, "doc_id long, text string"), lm, total
        ).collect()
    }
    for d in (1, 2):
        assert got[d]["mean_surprisal"] == batch[d]["mean_surprisal"]
        assert got[d]["n_tokens"] == batch[d]["n_tokens"]

    # unseen-term floor: doc 2 sits at the ceiling ln(total), above doc 1
    import math

    assert abs(got[2]["mean_surprisal"] - round(math.log(total), 6)) < 1e-9
    assert got[1]["mean_surprisal"] < got[2]["mean_surprisal"]

    # replay the same files plus a gated run: nothing duplicates, the
    # gate keeps only the in-distribution doc
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        score_stream(spark, stream, reference, out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    gated_out = str(tmp_path / "lm_gated")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        score_stream(
            spark,
            stream,
            reference,
            gated_out,
            max_surprisal=float(round(math.log(total), 6)) - 0.1,
            checkpoint=str(tmp_path / "lm_gated_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(gated_out).collect()} == {1}


def test_incremental_rollup_exactly_once(spark, tmp_path):
    """Streaming materialized view: per-batch partial aggregates fold
    into a persistent rollup; the result equals a one-shot batch
    aggregation over all input, and replaying the source does not
    double-count (applied-batch markers commit atomically with data)."""
    import os

    from nasa_asteroid_data_lakehouse_spark.streaming.rollup import (
        incremental_rollup_sink,
        merge_partials,
        rollup_partial,
    )

    src = str(tmp_path / "roll_in")
    os.makedirs(src, exist_ok=True)
    root = str(tmp_path / "rollup")
    schema = "event_id long, event_type string, value double"

    batch1 = [(1, "view", 2.0), (2, "click", 4.0), (3, "view", None)]
    batch2 = [(4, "view", 10.0), (5, "purchase", 1.5), (6, "click", -3.0)]

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        incremental_rollup_sink(spark, stream, root, ["event_type"], "value")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        incremental_rollup_sink(spark, stream, root, ["event_type"], "value")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: r
        for r in spark.read.parquet(f"{root}/data").collect()
    }
    want = {
        r["event_type"]: r
        for r in rollup_partial(
            spark.createDataFrame(batch1 + batch2, schema), ["event_type"], "value"
        ).collect()
    }
    assert set(got) == set(want) == {"view", "click", "purchase"}
    for k in want:
        for c in ("n_rows", "n_vals", "sum_val", "min_val", "max_val"):
            assert got[k][c] == want[k][c], (k, c)
    # NULL value counted in rows, not vals
    assert got["view"]["n_rows"] == 3 and got["view"]["n_vals"] == 2

    # true foreachBatch replay: re-fold an already-applied batch id —
    # must be a no-op (marker committed atomically with the data)
    from nasa_asteroid_data_lakehouse_spark.streaming.rollup import (
        fold_rollup_batch,
    )

    applied_ids = sorted(
        r["batch_id"] for r in spark.read.parquet(f"{root}/applied").collect()
    )
    replay_id = applied_ids[-1]
    assert not fold_rollup_batch(
        spark,
        spark.createDataFrame(batch2, schema),
        replay_id,
        root,
        ["event_type"],
        "value",
    )
    again = {
        r["event_type"]: r
        for r in spark.read.parquet(f"{root}/data").collect()
    }
    for k in want:
        assert again[k]["n_rows"] == want[k]["n_rows"]
        assert again[k]["sum_val"] == want[k]["sum_val"]

    # merge_partials is associative with the single-pass result
    p1 = rollup_partial(spark.createDataFrame(batch1, schema), ["event_type"], "value")
    p2 = rollup_partial(spark.createDataFrame(batch2, schema), ["event_type"], "value")
    folded = {
        r["event_type"]: r
        for r in merge_partials(p1, p2, ["event_type"]).collect()
    }
    for k in want:
        assert folded[k]["sum_val"] == want[k]["sum_val"]
        assert folded[k]["min_val"] == want[k]["min_val"]


def test_score_stream_redelivery_overwrites_not_duplicates(spark, tmp_path):
    """True batch re-delivery (fresh checkpoint => same files replay as
    batch 0): the per-batch partition overwrite must replace, never
    append — output count is stable across replays, and within-batch
    duplicate ids collapse to one row."""
    import os

    from nasa_asteroid_data_lakehouse_spark.streaming.curation import (
        score_stream,
    )

    reference = spark.createDataFrame(
        [(100, "the cat sat on the mat " * 3)], "doc_id long, text string"
    )
    src = str(tmp_path / "redeliver_in")
    os.makedirs(src, exist_ok=True)
    out = str(tmp_path / "redeliver_out")
    # doc 1 appears TWICE in the batch (within-batch duplicate)
    spark.createDataFrame(
        [(1, "the cat sat"), (1, "the cat sat"), (2, "dogs run fast")],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)

    for ckpt in ("ck_a", "ck_b"):  # second loop = re-delivery as batch 0
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            score_stream(
                spark,
                stream,
                reference,
                out,
                checkpoint=str(tmp_path / ckpt),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_read_scored_latest_only_dedups_cross_batch(spark, tmp_path):
    """read_scored(latest_only=True) is the dedup-on-read companion for
    score_stream's per-batch replay protection (ADVICE r03): a doc id
    re-submitted in a later source batch keeps only its latest score."""
    import os

    from nasa_asteroid_data_lakehouse_spark.streaming.curation import (
        read_scored,
        score_stream,
    )

    reference = spark.createDataFrame(
        [(100, "the cat sat on the mat " * 3)], "doc_id long, text string"
    )
    src = str(tmp_path / "latest_in")
    os.makedirs(src, exist_ok=True)
    out = str(tmp_path / "latest_out")
    spark.createDataFrame(
        [(1, "the cat sat"), (2, "dogs run fast")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        score_stream(spark, stream, reference, out,
                     checkpoint=str(tmp_path / "latest_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # doc 1 re-submitted with different text in a later batch
    spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        score_stream(spark, stream, reference, out,
                     checkpoint=str(tmp_path / "latest_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    raw = read_scored(spark, out)
    assert sorted(r["doc_id"] for r in raw.collect()) == [1, 1, 2]
    latest = read_scored(spark, out, latest_only=True)
    rows = {r["doc_id"]: r for r in latest.collect()}
    assert sorted(rows) == [1, 2]
    max_batch = raw.agg(F.max("batch")).collect()[0][0]
    assert rows[1]["batch"] == max_batch
