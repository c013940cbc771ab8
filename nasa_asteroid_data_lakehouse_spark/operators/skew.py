"""Skew-aware aggregation and join helpers.

At 100 TB a handful of hot keys (one boilerplate document hash, one
mega-customer) serialize into single straggler tasks.  Two standard
remedies, composable with everything else:

* AQE skew-join splitting — already on via the session factory
  (``spark.sql.adaptive.skewJoin.enabled``); handles *join* skew at
  runtime with zero code.
* ``salted_agg`` — two-phase aggregation for *groupBy* skew on
  algebraic aggregates: phase 1 groups on (key, salt) spreading a hot
  key over N tasks, phase 2 re-combines per key.  Spark's partial
  (map-side) aggregation already mitigates most of this; explicit
  salting is for the residual case where even one reducer per key is
  too much (e.g. count-distinct-ish payloads).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, out: str = "__salt") -> DataFrame:
    """Deterministic pseudo-random salt in [0, buckets) derived from a
    full-row hash (no rand(): reruns produce identical salts, keeping
    retried tasks idempotent)."""
    return df.withColumn(out, F.pmod(F.xxhash64(*df.columns), F.lit(buckets)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Callable[..., Column], Callable[..., Column]]],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output column -> (input column, phase-1 aggregate,
    phase-2 re-combine over the phase-1 partials); e.g.
    ``{"total": ("price", F.sum, F.sum), "mx": ("price", F.max, F.max)}``.
    Only algebraic aggregates decompose this way (express avg as
    sum+count; count as ``(col, F.count, F.sum)``).
    """
    salted = with_salt(df, buckets)
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[fn1(col).alias(f"__p1_{out}") for out, (col, fn1, _) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[fn2(f"__p1_{out}").alias(out) for out, (_, _, fn2) in aggs.items()]
    )


def heavy_hitters(
    df: DataFrame, keys: list[str], top_n: int = 20
) -> DataFrame:
    """Skew diagnostic: the ``top_n`` heaviest key groups with each
    group's share of total rows and the running cumulative share.

    This is the measurement that justifies (or rules out) salting: a
    top key holding >20-30% of rows will dominate one shuffle
    partition in any keyed join/agg on it.  One hash aggregate on the
    key + a driver-size top-n (TakeOrderedAndProject) — the count
    table is |distinct keys| rows, never row-scale.  The cumulative
    window runs over only top_n rows.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    top = (
        counts.crossJoin(F.broadcast(total))
        .select(
            *keys,
            "n",
            (F.col("n") / F.col("__total")).alias("share"),
        )
        .orderBy(F.desc("n"), *keys)
        .limit(top_n)
    )
    w = (
        Window.orderBy(F.desc("n"), *keys)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return top.select(
        *keys,
        "n",
        F.round("share", 6).alias("share"),
        F.round(F.sum("share").over(w), 6).alias("cumulative_share"),
    )
