"""Declarative data-quality expectations — the assertion-grade upgrade
of the reference's print-only profiling (`src/etl/bronze_to_silver.py:
127-143` counts nulls/distincts per column but asserts nothing,
SURVEY.md §5).

A rule set is data: ``(rule_name, constraint)`` pairs where the
constraint is a boolean Column evaluated per row.  ``check`` compiles
the whole rule set into ONE aggregate pass — each rule becomes a
conditional count inside a single ``agg`` — so a 50-rule suite costs
one table scan at any scale, not 50 (the reference's N+1 profiling
anti-pattern, SURVEY.md §4.1).

Row-level rules cover not-null / range / set-membership / regex.
Table-level rules (uniqueness, referential integrity) need their own
shuffle and are exposed separately; ``check_unique`` and
``check_ref_integrity`` each cost one hash aggregate / one anti-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def check(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate row-level expectations in one scan.

    ``rules`` maps rule name → boolean Column that should hold for
    every row (nulls count as violations).  Output: one row per rule
    with ``rule``, ``n_rows``, ``violations``, ``pass_rate``,
    ``passed``.
    """
    if not rules:
        raise ValueError("check() needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            # coalesce: SUM over zero rows is NULL, but an empty table
            # has zero violations, not unknown violations
            F.coalesce(
                F.sum(F.when(cond, 0).otherwise(1)), F.lit(0)
            ).alias(name)
        )
    wide = df.agg(*aggs)
    # unpivot rule columns into (rule, violations) rows
    stacked = wide.select(
        F.col("__n").alias("n_rows"),
        F.stack(
            F.lit(len(rules)),
            *[x for name in rules for x in (F.lit(name), F.col(name))],
        ).alias("rule", "violations"),
    )
    return stacked.select(
        "rule",
        "n_rows",
        "violations",
        F.round(
            F.when(F.col("n_rows") > 0, 1 - F.col("violations") / F.col("n_rows"))
            .otherwise(F.lit(1.0)),
            6,
        ).alias("pass_rate"),
        (F.col("violations") == 0).alias("passed"),
    )


def check_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """Key-uniqueness expectation: one hash aggregate on ``keys``.

    Output: single row ``rule, n_rows, violations, pass_rate, passed``
    where violations = rows carrying a duplicated key (all members of
    each duplicate group count, matching the intuitive "how many rows
    are implicated" reading).
    """
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
    agg = per_key.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("__c") > 1, F.col("__c"))), F.lit(0)
        ).alias("violations"),
    )
    return agg.select(
        F.lit("unique(" + ",".join(keys) + ")").alias("rule"),
        "n_rows",
        "violations",
        F.round(
            F.when(F.col("n_rows") > 0, 1 - F.col("violations") / F.col("n_rows"))
            .otherwise(F.lit(1.0)),
            6,
        ).alias("pass_rate"),
        (F.col("violations") == 0).alias("passed"),
    )


def check_ref_integrity(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Referential-integrity expectation: fact keys must exist in the
    dimension.  Broadcast anti-join when the dim is small — at 100 TB
    the dim key set is still the broadcastable side.  Fully lazy: the
    total and the orphan count are two single-row aggregates joined
    together, so the check composes into report unions without any
    driver-side action.

    NULL fact keys count as violations (they reference nothing): the
    anti-join keeps them because a NULL key never matches.  The DuckDB
    oracle (DQ_REPORT_SQL) mirrors this with an explicit
    ``key IS NULL OR key NOT IN (...)`` — plain ``NOT IN`` would
    silently drop NULL-keyed rows and diverge."""
    tot = fact.agg(F.count(F.lit(1)).alias("n_rows"))
    orph = (
        fact.select(F.col(fact_key))
        .join(
            broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
            fact_key,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    return tot.crossJoin(orph).select(
        F.lit(f"ref({fact_key}->{dim_key})").alias("rule"),
        "n_rows",
        "violations",
        F.round(
            F.when(F.col("n_rows") > 0, 1 - F.col("violations") / F.col("n_rows"))
            .otherwise(F.lit(1.0)),
            6,
        ).alias("pass_rate"),
        (F.col("violations") == 0).alias("passed"),
    )
