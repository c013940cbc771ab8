"""neows_daily: consecutive synthetic NeoWs days through
``pipeline.runner.run_pipeline`` into a fresh lake root.

One op is one day (bronze ingest, silver flatten and write, gold merge
of the four star-schema tables).  Each day's input is KB-sized, so the
cost is Spark job and plan overhead in ``pipeline`` plus the gold
full-rewrite merge in ``operators.merge``, which grows with gold size.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow.parquet as pq

import gen
from harness import tree_bytes

SECONDS_PER_DAY = 3.3  # one merge day on a 4-core host, with headroom
WARM_DAYS = 1
GOLD = ("dim_asteroid", "dim_approach_date", "dim_orbiting_body", "fact_asteroid_approach")


def _sk(value: str) -> str:
    return hashlib.sha256(value.encode()).hexdigest()


def key_hash(rows) -> tuple[int, str]:
    """(count, order-insensitive hash) of a collection of key tuples."""
    keys = sorted(repr(tuple(r)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()


def expected_tables(days: list[tuple[str, dict]]) -> dict[str, list[tuple]]:
    """Silver and gold contents recomputed in plain Python from the
    documents: the latest day wins per key, placeholders become None."""
    silver, fact = [], set()
    asteroids: dict[int, tuple] = {}
    stamps, bodies = set(), set()
    for _, doc in days:
        for neos in doc["near_earth_objects"].values():
            for neo in neos:
                neo_id = int(neo["id"])
                name = neo["name"].strip() or None
                url = None if neo["nasa_jpl_url"] in ("NULL", "") else neo["nasa_jpl_url"]
                asteroids[neo_id] = (neo_id, name, neo["absolute_magnitude_h"], url)
                for a in neo["close_approach_data"]:
                    full = a["close_approach_date_full"]
                    silver.append((neo_id, full))
                    stamps.add(full)
                    bodies.add(a["orbiting_body"])
                    fact.add((_sk(str(neo_id)), _sk(full)))
    return {
        "silver": silver,
        "dim_asteroid": list(asteroids.values()),
        "dim_approach_date": [(s,) for s in stamps],
        "dim_orbiting_body": [(b,) for b in bodies],
        "fact_asteroid_approach": list(fact),
    }


def incoming_gold_rows(doc: dict) -> int:
    """Rows the four gold builders produce from one day's document."""
    t = expected_tables([("", doc)])
    return sum(len(t[name]) for name in GOLD)


def parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.read_metadata(f).num_rows for f in files)


def check(ctx, spark, root: str, days: list[tuple[str, dict]]) -> None:
    exp = expected_tables(days)
    columns = {
        "silver": ("silver/asteroids", ["id", "approach_date_full"]),
        "dim_asteroid": ("gold/dim_asteroid",
                         ["id", "name", "absolute_magnitude_h", "nasa_jpl_url"]),
        "dim_approach_date": ("gold/dim_approach_date", ["approach_date_full"]),
        "dim_orbiting_body": ("gold/dim_orbiting_body", ["orbiting_body"]),
        "fact_asteroid_approach": ("gold/fact_asteroid_approach",
                                   ["sk_asteroid", "sk_approach_date"]),
    }
    for name, (rel, cols) in columns.items():
        got = spark.read.parquet(os.path.join(root, rel)).select(*cols).collect()
        want, have = key_hash(exp[name]), key_hash(got)
        ctx.check(f"{name}_rows_and_keys", want == have, {"want": want, "got": have})


def run(ctx):
    n_days = max(3, round(ctx.seconds / SECONDS_PER_DAY))
    days = ctx.repeat_setup(lambda: gen.neows_days(ctx.seed, n_days))
    warm = gen.neows_days(ctx.seed + 1_000_003, WARM_DAYS, first_day="2025-01-01")
    spark = ctx.start_spark()

    from nasa_asteroid_data_lakehouse_spark.pipeline import gold, runner

    # A warm-up day (a create) into its own root: JIT and planner caches
    # fill before timing, and the timed lake starts empty.
    for day, doc in warm:
        runner.run_pipeline(spark, ctx.path("warm"), day, doc)

    tracer = ctx.tracer
    tracer.wrap(runner, "ingest_document", "pipeline.bronze.ingest")
    tracer.wrap(runner, "build_silver", "pipeline.silver.build")
    tracer.wrap(runner, "write_silver", "pipeline.silver.write")
    tracer.wrap(runner, "build_gold", "pipeline.gold.build")
    tracer.wrap(gold, "save_or_update_table", "operators.merge.upsert")

    root = ctx.path("lake")
    rewrite_ratios = []
    ctx.setup_done()
    for day, doc in days:
        with ctx.ops.op("write", day):
            runner.run_pipeline(spark, root, day, doc)
        if ctx.trace:
            with ctx.paused():
                written = sum(parquet_rows(os.path.join(root, "gold", t)) for t in GOLD)
                rewrite_ratios.append(written / incoming_gold_rows(doc))

    heap = ctx.retained_heap_mb()
    stored = tree_bytes(root) / gen.document_bytes(days)
    check(ctx, spark, root, days)

    self_times = tracer.self_times()
    for span, metric in (
        ("pipeline.bronze.ingest", "pipeline.bronze.ingest_s"),
        ("pipeline.silver.build", "pipeline.silver.build_s"),
        ("pipeline.silver.write", "pipeline.silver.write_s"),
        ("pipeline.gold.build", "pipeline.gold.build_s"),
        ("operators.merge.upsert", "operators.merge.upsert_s"),
        ("op.write", "pipeline.runner.self_s"),
    ):
        ctx.layer_median(metric, self_times.get(span, []))
    if rewrite_ratios:
        ctx.layers["pipeline.gold.rows_rewritten_per_row_in"] = (
            sum(rewrite_ratios) / len(rewrite_ratios)
        )
    ctx.layers["pipeline.bytes_stored_per_input_byte"] = stored
    ctx.detail.update(days=n_days, bytes_stored_per_input_byte=stored)
    return heap
