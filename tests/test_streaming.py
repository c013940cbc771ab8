"""Structured Streaming tests: file-source streams drained with
availableNow, asserted against the equivalent batch computation."""


import pytest

# Deselected by default (pytest.ini addopts -m 'not slow'): streaming replay integrations (multi-batch drains).
# Run with `pytest -m ""` to include; assertions are unchanged.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.streaming import events as se
from nasa_asteroid_data_lakehouse_spark.streaming.replay import drain_to_parquet


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture re-written as multiple parquet files (so the file
    stream has several input files to discover)."""
    out = str(tmp_path_factory.mktemp("events_src"))
    df = read_table(spark, "/root/testdata/sf0.001", "events")
    df.repartition(4).write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_stream_equals_batch(spark, events_dir, tmp_path):
    stream = se.windowed_counts(se.read_event_stream(spark, events_dir))
    stream_result = (
        drain_to_parquet(spark, stream, str(tmp_path / "counts"), events_dir)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"), F.round(F.sum("sum_value"), 6).alias("sum_value"))
    )

    batch = spark.read.parquet(events_dir)
    batch_result = se.windowed_counts(batch)

    s = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in stream_result.collect()}
    b = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in batch_result.collect()}

    # Append mode only emits windows finalized by the watermark: the last
    # watermark-width of windows stays in state at end-of-stream. Every
    # emitted window must match batch exactly, and all but the trailing
    # day's windows must have been emitted.
    assert s, "stream emitted no finalized windows"
    assert set(s) <= set(b)
    import datetime

    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    # window emitted iff window_end <= watermark (= max_ts - 1 day),
    # i.e. window_start <= max_ts - 2 days
    cutoff = str(max_ts - datetime.timedelta(days=2))
    finalized = {k for k in b if k[0] <= cutoff}
    assert finalized <= set(s)
    for k in s:
        assert s[k][0] == b[k][0]
        assert s[k][1] == pytest.approx(b[k][1], abs=1e-4)


def test_stream_dedup_bounded(spark, events_dir, tmp_path):
    stream = se.stream_dedup(se.read_event_stream(spark, events_dir), ["user_id"])
    result = drain_to_parquet(spark, stream, str(tmp_path / "dedup"), events_dir)
    n_users = result.select("user_id").distinct().count()
    assert result.count() == n_users  # one row per user survived


def test_merge_sink_idempotent_upsert(spark, events_dir, tmp_path):
    table = str(tmp_path / "events_table")
    stream = se.read_event_stream(spark, events_dir)
    q = se.merge_sink(
        spark, stream, table, keys=["event_id"], checkpoint=str(tmp_path / "cp1")
    ).start()
    q.awaitTermination()
    first = spark.read.parquet(table).count()
    batch_total = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert first == batch_total

    # replay from scratch (new checkpoint): merge keeps keys unique
    q2 = se.merge_sink(
        spark, stream, table, keys=["event_id"], checkpoint=str(tmp_path / "cp2")
    ).start()
    q2.awaitTermination()
    assert spark.read.parquet(table).count() == batch_total


def test_sessionize_stateful(spark, tmp_path):
    """Two single-file micro-batches for one user, separated by > gap:
    batch 2 must flush the batch-1 session."""
    import datetime
    import time

    src = str(tmp_path / "sess_src")
    out = str(tmp_path / "sessions")
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 7, "click", 1.0, "{}") for i, ts in rows],
            schema=se.EVENTS_SCHEMA,
        )

    early = mk([(1, t0), (2, t0 + datetime.timedelta(minutes=5))])
    late = mk([(3, t0 + datetime.timedelta(hours=5))])
    early.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    late.coalesce(1).write.mode("append").parquet(src)

    stream = se.read_event_stream(spark, src, max_files_per_trigger=1)
    sessions = se.sessionize(stream, gap_minutes=60)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    result = spark.read.parquet(out).collect()
    assert len(result) == 1  # first session flushed; second still in state
    row = result[0]
    assert row["user_id"] == 7
    assert row["n_events"] == 2
    assert str(row["session_start"]) == "2024-01-01 10:00:00"
    assert str(row["session_end"]) == "2024-01-01 10:05:00"


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


def test_streaming_admission_gates_and_dedups(spark, tmp_path):
    """Continuous curation: stream of docs -> stateless quality gate ->
    per-batch near-dup screen vs the admitted corpus -> append.  The
    second batch contains a near-copy of an admitted doc plus a spam
    doc; neither lands in the corpus."""
    from nasa_asteroid_data_lakehouse_spark.streaming.curation import admit_stream

    good_a = (
        "the quick brown fox jumps over a lazy dog and it runs toward "
        "some distant hills where many small animals gather near water "
        "to drink while birds circle above looking for food in this "
        "quiet valley that stays green all year"
    )
    good_b = (
        "a completely different report about engines and tables that "
        "the merge operator joins with keys while windows aggregate "
        "rows into buckets and sorted partitions stream through it "
        "for a very long time without any repeats at all today"
    )
    near_copy_a = good_a.replace("green", "golden")
    spam = " ".join(["buy"] * 40)

    src = str(tmp_path / "incoming")
    os_mk = __import__("os").makedirs
    os_mk(src, exist_ok=True)
    table = str(tmp_path / "corpus")

    # batch 1: one good doc
    spark.createDataFrame([(1, good_a)], "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    writer = admit_stream(spark, stream, table, jaccard_threshold=0.5)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(table).collect()} == {1}

    # batch 2: a fresh good doc, a near-copy of doc 1, and spam
    spark.createDataFrame(
        [(2, good_b), (3, near_copy_a), (4, spam)],
        "doc_id long, text string",
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        admit_stream(spark, stream, table, jaccard_threshold=0.5)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = {r["doc_id"] for r in spark.read.parquet(table).collect()}
    # doc 2 admitted; 3 rejected (near-dup of 1); 4 rejected (quality);
    # 1 not re-admitted on replay of the first file
    assert admitted == {1, 2}


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


def test_incremental_cms_is_lossless_linear_merge(spark, tmp_path):
    """A CMS maintained across micro-batches equals the single-pass
    sketch over all rows cell-for-cell (linearity), so point estimates
    agree exactly; state stays depth x width regardless of volume."""
    import os

    from nasa_asteroid_data_lakehouse_spark.operators.sketches import (
        count_min_counters,
        count_min_estimate,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.rollup import (
        incremental_cms_sink,
    )

    src = str(tmp_path / "cms_in")
    os.makedirs(src, exist_ok=True)
    root = str(tmp_path / "cms")
    schema = "event_id long, event_type string"

    b1 = [(i, t) for i, t in enumerate(["view"] * 7 + ["click"] * 3)]
    b2 = [(100 + i, t) for i, t in enumerate(["view"] * 5 + ["purchase"] * 2)]

    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            incremental_cms_sink(spark, stream, root, "event_type", width=64)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    maintained = spark.read.parquet(f"{root}/data")
    single_pass = count_min_counters(
        spark.createDataFrame(b1 + b2, schema), "event_type", width=64
    )
    diff = maintained.alias("m").join(
        single_pass.alias("s"), ["j", "bucket"], "full_outer"
    ).where(
        F.coalesce(F.col("m.cnt"), F.lit(-1))
        != F.coalesce(F.col("s.cnt"), F.lit(-1))
    )
    assert diff.count() == 0
    assert maintained.count() <= 4 * 64

    queries = spark.createDataFrame(
        [("view",), ("click",), ("purchase",)], "event_type string"
    )
    est = {
        r["item"]: r["cms_est"]
        for r in count_min_estimate(
            maintained, queries, "event_type", width=64
        ).collect()
    }
    assert est["view"] >= 12 and est["click"] >= 3 and est["purchase"] >= 2


def test_changepoint_monitor_stream_matches_batch_cusum(spark, tmp_path):
    """Streaming CUSUM screen over the maintained daily series equals
    the batch operator over all delivered events, and a replayed
    source does not shift the series (applied-marker no-op)."""
    import os

    from pyspark.sql import functions as F

    from nasa_asteroid_data_lakehouse_spark.operators.stats import cusum
    from nasa_asteroid_data_lakehouse_spark.streaming.rollup import (
        changepoint_monitor_sink,
    )

    src = str(tmp_path / "cp_in")
    os.makedirs(src, exist_ok=True)
    root = str(tmp_path / "cp")
    schema = "event_id long, ts timestamp"

    def rows(day_counts, start_id):
        out, i = [], start_id
        for day, n in day_counts:
            for _ in range(n):
                out.append((i, f"2024-01-{day:02d} 12:00:00"))
                i += 1
        return [(e, __import__("datetime").datetime.fromisoformat(t)) for e, t in out]

    batch1 = rows([(1, 3), (2, 4), (3, 3)], 0)
    batch2 = rows([(3, 2), (4, 9), (5, 10)], 100)  # level shift at day 4

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    q = (
        changepoint_monitor_sink(
            spark, spark.readStream.schema(schema).parquet(src), root
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    q = (
        changepoint_monitor_sink(
            spark, spark.readStream.schema(schema).parquet(src), root
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(f"{root}/cusum")
        .orderBy("day")
        .toPandas()
    )
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    daily = all_events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    want = cusum(daily, "day", "n_events").orderBy("day").toPandas()
    assert got["day"].tolist() == want["day"].tolist()
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert got["cusum"].tolist() == want["cusum"].tolist()
    # the level shift puts the |CUSUM| peak right before the jump
    assert got.loc[got["is_peak"], "day"].iloc[0].isoformat() == "2024-01-03"


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
