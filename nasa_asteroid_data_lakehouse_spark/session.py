"""SparkSession factory.

The reference builds ad-hoc sessions per ETL script with inline S3A
credentials (reference ``src/etl/bronze_to_silver.py:15-29``).  Here the
session is centralized and tuned for the lakehouse workload:

* AQE on (runtime coalescing + skew-join handling) -- at 100 TB the
  static ``spark.sql.shuffle.partitions`` is always wrong for some stage;
  AQE re-plans from runtime stats.
* UTC session timezone (the reference parses ``yyyy-MMM-dd HH:mm``
  strings, which are locale/zone sensitive -- SURVEY.md §7).
* Arrow enabled for the Pandas-UDF paths (LLM operators).
* Shuffle partitions default sized for local testing; on a real cluster
  AQE coalesces and the caller can override via ``extra_conf``.
* One JIT policy for the driver JVM: HotSpot's four tier-4 (C2)
  thresholds are raised by one factor (``C2_THRESHOLD_FACTOR``).  The
  paper's traffic is a short-lived JVM per daily stage, and there C2
  recompiling warm planner code (Catalyst rules, Scala collections) was
  the largest CPU layer: 13.4 s of the ~24 s a 3-day ``neows_daily`` run
  spends, against 2.25 s of executor tasks.  With the policy, warm code
  stays in C1 and hot data loops still reach C2.  It goes into
  ``spark.driver.defaultJavaOptions``, which Spark puts before the
  caller's ``spark.driver.extraJavaOptions``; a caller replaces it by
  setting ``spark.driver.defaultJavaOptions`` in ``extra_conf``.  The
  policy takes effect only when this call starts the JVM.  Under
  ``spark-submit`` client mode (the reference's deployment) the driver
  JVM already runs when ``get_spark`` is called, so put the same flags
  (``JIT_JAVA_OPTIONS``) in ``spark.driver.defaultJavaOptions`` in
  ``spark-defaults.conf``.  Executor JVMs
  (``spark.executor.defaultJavaOptions``) are out of scope: no workload
  here starts one, so the effect there is unmeasured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# JDK 17 defaults of the thresholds at which a method (or loop) that C1
# already compiled is queued for C2.
_TIER4_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
# One factor for all four.  Medians of three perfbench seeds a side on a
# 4-core host, JDK defaults -> x10 -> x30: neows_daily cpu_s_per_op
# 8.37 -> 6.31 -> 5.02 s and setup_s 42.0 -> 32.2 -> 29.5 s;
# lakehouse_mix cpu_s_per_op 4.01 -> 3.05 -> 3.19 s.  The heavy sf0.1
# queries decide: the summed medians of seven of them (time_query.py,
# two processes a side) went 75.0 -> 73.2 s at x10 but 69.2 -> 79.1 s
# at x30 (minhash_band_sweep 27.1 -> 32.6 s), so x30 is too late for
# hot data loops.  C1-only (-XX:TieredStopAtLevel=1) is worse still for
# them, and CompileThresholdScaling also delays C1.
C2_THRESHOLD_FACTOR = 10
JIT_VM_OPTIONS = {k: v * C2_THRESHOLD_FACTOR for k, v in _TIER4_DEFAULTS.items()}
JIT_JAVA_OPTIONS = " ".join(f"-XX:{k}={v}" for k, v in JIT_VM_OPTIONS.items())


def get_spark(
    app_name: str = "nasa-asteroid-lakehouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (falling back to ``local[*]``) so tests, bench, and the driver
    harness share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Idempotent daily re-runs replace only the partitions present in
        # the incoming data instead of truncating the whole table
        # (SURVEY.md §2 A7).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Nested-column pruning so the NeoWs flatten reads only the
        # projected struct leaves from parquet/JSON (SURVEY.md §4).
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Parquet TIMESTAMP(NANOS) columns (e.g. the events fixture) read
        # as long nanos-since-epoch instead of erroring; catalog.read_table
        # converts them to truncated-to-micros timestamps (matching DuckDB's
        # TIMESTAMP_NS -> TIMESTAMP cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_s3a(
    spark: SparkSession,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
    ssl: bool = False,
) -> SparkSession:
    """Optional S3A/MinIO connector config (SURVEY.md §2 A10).

    Mirrors the connection settings the reference passes per job
    (reference ``src/etl/bronze_to_silver.py:21-29``); kept as a thin
    utility because object-store config is environment, not engine.
    """
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.s3a.endpoint", endpoint)
    conf.set("fs.s3a.access.key", access_key)
    conf.set("fs.s3a.secret.key", secret_key)
    conf.set("fs.s3a.path.style.access", str(path_style).lower())
    conf.set("fs.s3a.connection.ssl.enabled", str(ssl).lower())
    return spark
