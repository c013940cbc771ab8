"""lakehouse_mix: the lakehouse's write and read side in one process.

Writes: many small commits on one ``lake.VersionedTable``.  Set-up
creates the table over sf0.1-sized ``orders``, stages a seeded change
feed, one parquet file per batch, and runs every timed lake call once on
a small scratch table.  The timed run drains the feed through
``streaming.lakehouse.versioned_upsert_sink`` (``maxFilesPerTrigger=1``,
``availableNow``), then runs deferred ``delete_keys``, a ``changes()``
CDF read and a time-travel ``read``, one pass of registered read-only
queries over sf0.01 star tables (``__spark_entry__.queries()``, order
shuffled by the seed), one ``compact`` and one ``vacuum``.

Write ops: a committed micro-batch (timed by Spark's own
``triggerExecution``), a delete, the compact and the vacuum.  Read ops:
a CDF read, a time-travel read or a query, each forced through the
``noop`` sink.  Set-up also runs every query once, collects its result
and checks it against the query's DuckDB oracle; that pass warms the
JVM for the query side.
"""

from __future__ import annotations

import concurrent.futures
import importlib.util
import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import noop, tree_bytes

SF = 0.01
# Cold, each query costs 1-5 s of JIT and first planning on top of its
# warm time, and the oracle pass pays that in every process; the list is
# kept to four queries that still cover joins and shuffles, windows, the
# LSH family cache and vector similarity.
QUERIES = (
    "q5_revenue_by_nation", "pit_scd2_join_events",
    "minhash_documents", "cosine_topk_embeddings",
)

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
ROWS_PER_BATCH = 2_000
DELETES_PER_ROUND = 100
WARM_ROWS = 20_000
STREAM_TIMES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.latest_offset_s": "latestOffset",
}


def sizes(seconds: int) -> tuple[int, int]:
    """(feed batches, delete/read rounds) for a run of ``seconds`` on a
    4-core host: a micro-batch takes about 1.6 s, a round about 4 s, and
    the query pass and the maintenance about 5 s more."""
    return max(4, round(seconds / 2.5)), max(1, round(seconds / 10))


def driver_sim(root: str):
    """``scripts/driver_sim.py``: the entry loader and the oracle
    comparison rule (sorted columns, order-insensitive rows, no
    float/integer dtype split, floats to 1e-9) the benchmark reuses."""
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "scripts", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_pass(ctx, spark, sim, entry, sf_dir: str) -> None:
    """Untimed warm pass: run every query once, collect its result and
    compare it with the registered DuckDB oracle."""
    import duckdb

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in sim.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in QUERIES:
            got = sim.norm(queries[name](spark, sf_dir).toPandas())
            want = sim.norm(con.execute(oracles[name]).df())
            diff = sim.frames_match(got, want)
            ctx.check(f"oracle_{name}", diff is None and len(got) > 0,
                      diff or "empty result")
    finally:
        con.close()


def stage_inputs(seed: int, batches: int, base_path: str, feed_dir: str):
    """Write the lake's base table and the feed; returns (base, feed,
    bytes)."""
    base = gen.orders_table(seed, N_ORDERS, N_CUSTOMERS)
    feed = gen.change_feed(seed, base, batches, ROWS_PER_BATCH)
    os.makedirs(feed_dir, exist_ok=True)
    size = gen.write_table(base, base_path)
    for i, batch in enumerate(feed):
        size += gen.write_table(batch, os.path.join(feed_dir, f"batch-{i:04d}.parquet"))
    return base, feed, size


def expected_snapshot(base, feed, deleted: set[int]) -> dict[int, float]:
    prices = dict(zip(base.column("o_orderkey").to_pylist(),
                      base.column("o_totalprice").to_pylist()))
    for batch in feed:
        prices.update(zip(batch.column("o_orderkey").to_pylist(),
                          batch.column("o_totalprice").to_pylist()))
    for k in deleted:
        prices.pop(k, None)
    return prices


def _files(root: str, manifest: dict) -> dict[str, set[str]]:
    out = {}
    for section in ("buckets", "dvs"):
        for b, fs in manifest.get(section, {}).items():
            out[f"{section}/{b}"] = {f if os.path.isabs(f) else os.path.join(root, f) for f in fs}
    return out


def commit_stats(root: str) -> dict[str, float]:
    """Per-commit write amplification read from the manifests and the
    parquet footers: files and bytes written, buckets touched, and data
    rows written per incoming row for the streamed upserts."""
    mdir = os.path.join(root, "_manifests")
    versions = sorted(int(f[1:-5]) for f in os.listdir(mdir)
                      if f.startswith("v") and f.endswith(".json"))
    manifests = {}
    for v in versions:
        with open(os.path.join(mdir, f"v{v:08d}.json")) as fh:
            manifests[v] = json.load(fh)
    files, nbytes, touched, ratios = [], [], [], []
    for v in versions[1:]:
        if v - 1 not in manifests:
            continue
        prev, cur = _files(root, manifests[v - 1]), _files(root, manifests[v])
        new = set().union(*cur.values()) - set().union(*prev.values())
        files.append(len(new))
        nbytes.append(sum(os.path.getsize(f) for f in new))
        touched.append(sum(1 for k in set(prev) | set(cur) if prev.get(k) != cur.get(k)))
        if manifests[v].get("stream_txn"):
            data = [f for k, fs in cur.items() if k.startswith("buckets/") for f in fs & new]
            rows = sum(pq.read_metadata(f).num_rows for f in data)
            ratios.append(rows / ROWS_PER_BATCH)
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    return {
        "lake.files_written": mean(files),
        "lake.bytes_written": mean(nbytes),
        "lake.touched_buckets": mean(touched),
        "lake.rows_rewritten_per_row_changed": mean(ratios),
    }


def start_drain(spark, table, feed_dir: str, ckpt: str, schema):
    from nasa_asteroid_data_lakehouse_spark.streaming import lakehouse

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(feed_dir))
    q = (lakehouse.versioned_upsert_sink(stream, table, ckpt, app_id="cdc")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def delete_frame(spark, keys: list[int]):
    return spark.createDataFrame([(k,) for k in keys], "o_orderkey long")


def warm_up(spark, work: str, seed: int, base, schema) -> None:
    """Run every timed call once on a small scratch table, so JIT and
    planner caches are filled before the timed phase starts."""
    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable

    small = base.slice(0, WARM_ROWS)
    path, feed_dir = os.path.join(work, "warm.parquet"), os.path.join(work, "warm-feed")
    os.makedirs(feed_dir, exist_ok=True)
    gen.write_table(small, path)
    feed = gen.change_feed(seed + 1, small, 1, ROWS_PER_BATCH)
    for i, batch in enumerate(feed):
        gen.write_table(batch, os.path.join(feed_dir, f"batch-{i:04d}.parquet"))
    table = VersionedTable(spark, os.path.join(work, "warm-table"))
    table.create(spark.read.parquet(path), keys=["o_orderkey"])
    start_drain(spark, table, feed_dir, os.path.join(work, "warm-checkpoint"), schema)
    table.delete_keys(delete_frame(spark, feed[0].column("o_orderkey").to_pylist()[:10]))
    noop(table.changes(from_version=1, to_version=2))
    noop(table.read(version=1))
    table.compact()
    table.vacuum(keep_last=1)


def check_exactly_once(ctx, spark, table, feed_dir, ckpt, schema, last_batch: int):
    """Crash-replay check: drop the checkpoint's commit marker of the
    last batch, restart the sink on the same checkpoint, and require
    that Spark re-delivers that batch and the table commits nothing."""
    before = table.latest_version()
    for name in (str(last_batch), f".{last_batch}.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    q = start_drain(spark, table, feed_dir, ckpt, schema)
    replayed = [p["batchId"] for p in q.recentProgress]
    after = table.latest_version()
    ctx.check("exactly_once_replay", replayed == [last_batch] and after == before,
              {"replayed": replayed, "before": before, "after": after})


def run(ctx):
    batches, rounds = sizes(ctx.seconds)
    base_path, feed_dir = ctx.path("orders.parquet"), ctx.path("feed")
    sf_dir = ctx.path("sf")

    def stage():
        gen.write_tables(gen.star_tables(ctx.seed, SF), sf_dir)
        return stage_inputs(ctx.seed, batches, base_path, feed_dir)

    base, feed, input_bytes = ctx.repeat_setup(stage)
    spark = ctx.start_spark()
    sim = driver_sim(ctx.root)
    entry = sim.load_entry()
    queries = entry.queries()

    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.streaming import lakehouse

    # The oracle pass and the lake set-up share nothing but the session;
    # running them side by side keeps the cold JVM's idle cores busy.
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(oracle_pass, ctx, spark, sim, entry, sf_dir)
        root, ckpt = ctx.path("table"), ctx.path("checkpoint")
        orders = spark.read.parquet(base_path)
        table = VersionedTable(spark, root)
        table.create(orders, keys=["o_orderkey"])
        warm_up(spark, ctx.path("warm"), ctx.seed, base, orders.schema)
        oracle.result()

    tracer = ctx.tracer
    tracer.wrap(lakehouse, "upsert_batch_idempotent", "streaming.batch_apply",
                op_of=lambda args, kwargs: f"batch{args[2]}")
    tracer.wrap(lakehouse, "stream_batch_watermark", "streaming.watermark_probe")
    tracer.wrap(table, "upsert", "lake.upsert")

    # Phase 1: drain the feed, one file per micro-batch.
    ctx.setup_done()
    t_start = time.perf_counter()
    q = start_drain(spark, table, feed_dir, ckpt, orders.schema)
    ctx.ops.mark(t_start, time.perf_counter())
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    for p in progress:
        ctx.ops.add("write", f"batch{p['batchId']}",
                    p["durationMs"]["triggerExecution"] / 1e3)
    if ctx.trace:
        with ctx.paused():
            tracer.collect_shared(str(q.runId), [f"batch{p['batchId']}" for p in progress])

    # Phase 2: deletes, CDF reads and time travel, the queries, then
    # maintenance.
    rng = np.random.default_rng([ctx.seed, 6])
    deleted: set[int] = set()
    for _ in range(rounds):
        keys = [int(k) for k in rng.choice(feed[int(rng.integers(batches))]
                                           .column("o_orderkey").to_numpy(),
                                           DELETES_PER_ROUND, replace=False)]
        deleted.update(keys)
        with ctx.ops.op("write", "delete_keys"):
            with tracer.span("lake.delete_keys"):
                table.delete_keys(delete_frame(spark, keys))
        latest = table.latest_version()
        v = int(rng.integers(1, latest + 1))
        with ctx.ops.op("read", "changes"):
            with tracer.span("lake.changes"):
                noop(table.changes(from_version=v - 1, to_version=v))
        v = int(rng.integers(0, latest + 1))
        with ctx.ops.op("read", "read"):
            with tracer.span("lake.read"):
                noop(table.read(version=v))
    for i in rng.permutation(len(QUERIES)):
        name = QUERIES[i]
        with ctx.ops.op("read", name):
            with tracer.span("plans.build"):
                df = queries[name](spark, sf_dir)
            with tracer.span("plans.exec"):
                noop(df)
    with ctx.ops.op("write", "compact"):
        with tracer.span("lake.compact"):
            table.compact()
    if ctx.trace:
        with ctx.paused():
            ctx.layers.update(commit_stats(root))
    with ctx.ops.op("write", "vacuum"):
        with tracer.span("lake.vacuum"):
            table.vacuum(keep_last=1)

    heap = ctx.retained_heap_mb()
    stored = tree_bytes(root) / input_bytes

    self_times = tracer.self_times()
    for span in ("lake.upsert", "lake.delete_keys", "lake.compact", "lake.vacuum",
                 "lake.read", "lake.changes", "streaming.batch_apply",
                 "streaming.watermark_probe", "plans.build", "plans.exec"):
        ctx.layer_median(f"{span}_s", self_times.get(span, []))
    for metric, key in STREAM_TIMES.items():
        ctx.layer_median(metric, [p["durationMs"].get(key, 0) / 1e3 for p in progress])
    ctx.layers["lake.bytes_stored_per_input_byte"] = stored

    # Correctness, untimed: final snapshot, then the crash replay.
    snap = table.read().select("o_orderkey", "o_totalprice").toPandas()
    want = expected_snapshot(base, feed, deleted)
    got = dict(zip(snap["o_orderkey"].tolist(), snap["o_totalprice"].tolist()))
    ctx.check("snapshot_equals_applied_feed", len(snap) == len(got) and got == want,
              {"rows": len(snap), "distinct": len(got), "want": len(want)})
    ctx.check("every_batch_committed", len(progress) == batches,
              {"batches": len(progress), "want": batches})
    if progress:
        check_exactly_once(ctx, spark, table, feed_dir, ckpt, orders.schema,
                           progress[-1]["batchId"])
    ctx.detail.update(batches=len(progress), rounds=rounds, queries=len(QUERIES), sf=SF,
                      bytes_stored_per_input_byte=stored, input_bytes=input_bytes)
    return heap
