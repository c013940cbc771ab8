"""Metric names, units and directions.  ``BENCHMARK.json`` lists the
same names; ``test_perfbench.py`` keeps the two in step."""

# name -> (unit, better, bound).  Times are CPU seconds of the process
# tree (Python driver, Spark JVM, Python workers): on a shared host the
# wall clock of the same run moved by up to half from run to run with
# the CPU time stolen by other guests, the CPU time by a few percent.
# Wall-clock throughput and op latencies are on the detail line and in
# the traced run (``trace.ops_per_s``, ``ops.*``).
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_s_per_op": ("s", "lower", 0.25),
    "retained_heap_mb": ("MB", "lower", 0.1),
}

_S, _N, _B, _R = "s", "count", "B", "ratio"

# name -> (unit, better).  Times are the median self time of one call
# of the span; ``spark.*`` counters are means per op.  A workload that
# never enters a layer reports 0 for it.
PER_LAYER = {
    "session.start_s": (_S, "lower"),
    "pipeline.bronze.ingest_s": (_S, "lower"),
    "pipeline.silver.build_s": (_S, "lower"),
    "pipeline.silver.write_s": (_S, "lower"),
    "pipeline.gold.build_s": (_S, "lower"),
    "pipeline.runner.self_s": (_S, "lower"),
    "operators.merge.upsert_s": (_S, "lower"),
    "pipeline.gold.rows_rewritten_per_row_in": (_R, "lower"),
    "pipeline.bytes_stored_per_input_byte": (_R, "lower"),
    "lake.upsert_s": (_S, "lower"),
    "lake.delete_keys_s": (_S, "lower"),
    "lake.compact_s": (_S, "lower"),
    "lake.vacuum_s": (_S, "lower"),
    "lake.read_s": (_S, "lower"),
    "lake.changes_s": (_S, "lower"),
    "lake.files_written": (_N, "lower"),
    "lake.bytes_written": (_B, "lower"),
    "lake.touched_buckets": (_N, "lower"),
    "lake.rows_rewritten_per_row_changed": (_R, "lower"),
    "lake.bytes_stored_per_input_byte": (_R, "lower"),
    "streaming.trigger_s": (_S, "lower"),
    "streaming.add_batch_s": (_S, "lower"),
    "streaming.query_planning_s": (_S, "lower"),
    "streaming.wal_commit_s": (_S, "lower"),
    "streaming.latest_offset_s": (_S, "lower"),
    "streaming.batch_apply_s": (_S, "lower"),
    "streaming.watermark_probe_s": (_S, "lower"),
    "plans.build_s": (_S, "lower"),
    "plans.exec_s": (_S, "lower"),
    "spark.jobs": (_N, "lower"),
    "spark.stages": (_N, "lower"),
    "spark.tasks": (_N, "lower"),
    "spark.shuffle_read_bytes": (_B, "lower"),
    "spark.shuffle_write_bytes": (_B, "lower"),
    "spark.spill_bytes": (_B, "lower"),
    "spark.executor_run_s": (_S, "lower"),
    "spark.executor_cpu_s": (_S, "lower"),
    "spark.gc_s": (_S, "lower"),
    "ops.p50_s": (_S, "lower"),
    "ops.write_p50_s": (_S, "lower"),
    "ops.read_p50_s": (_S, "lower"),
    "trace.overhead_s": (_S, "lower"),
    "trace.ops_per_s": ("1/s", "higher"),
    "trace.cpu_s_per_op": (_S, "lower"),
}


def with_units(values: dict[str, float], table: dict) -> dict[str, dict]:
    """Every metric of ``table``, with its unit; missing values are 0."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
        for name, spec in table.items()
    }
