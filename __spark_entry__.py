"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` maps every implemented operator from SURVEY.md §2 to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent SQL the driver cross-checks against at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nasa_asteroid_data_lakehouse_spark.plans import (
    analytics_queries,
    curation_queries,
    llm_queries,
    neows_queries,
    operator_queries,
    r05_queries,
    r05b_queries,
    r06_queries,
    r07_queries,
    r08_queries,
    r09_queries,
    r10_queries,
    stats_queries,
    streaming_queries,
    tpch_queries,
)
from nasa_asteroid_data_lakehouse_spark.plans import queries as plans

SF0001 = "/root/testdata/sf0.001"

# Registration order is the unrotated key order of queries() and
# oracle_sql(); every module exports a QUERIES/ORACLES pair.
_MODULES = (
    plans,
    operator_queries,
    llm_queries,
    analytics_queries,
    tpch_queries,
    curation_queries,
    stats_queries,
    neows_queries,
    streaming_queries,
    r05b_queries,
    r05_queries,
    r06_queries,
    r07_queries,
    r08_queries,
    r09_queries,
    r10_queries,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return plans.q1_pricing_summary(spark, SF0001)


# The round driver checks only ~50 queries per round, in queries()
# iteration order.  To get every operator a driver-green row we rotate
# the frontier each round: queries whose LAST driver check failed go
# first (re-prove the fix), never-checked queries next, already-green
# queries last.  The ordering derives from the CORRECTNESS_r*.json
# files the driver leaves in the repo (latest round wins per query);
# the hardcoded round-1 lists below are only the fallback when no
# files are present.
_ROUND1_GREEN = [
    "q1_pricing_summary", "q3_top_unshipped_orders", "q5_revenue_by_nation",
    "dedup_exact_documents", "dedup_all_columns_documents",
    "duplicate_groups_documents", "profile_documents", "normalize_documents",
    "union_by_name_parties", "topk_orders", "topk_orders_per_customer",
    "running_customer_revenue", "customers_without_orders",
    "merge_upsert_orders", "surrogate_keys_nation", "calendar_events",
    "from_json_events", "windowed_event_counts", "gap_filled_hourly_events",
    "zorder_keys_orders", "text_stats_documents", "lang_id_documents",
    "fingerprint_documents", "exact_dedup_documents", "minhash_documents",
    "ngram_jaccard_documents", "cosine_topk_embeddings",
    "lsh_buckets_embeddings", "media_metadata_documents", "simhash_documents",
    "simhash_pairs_documents", "embedding_near_dups", "lsh_topk_embeddings",
    "ivf_topk_embeddings", "minhash_lsh_pairs_documents",
    "near_dup_clusters_documents", "holdout_sample_documents",
    "decontaminate_documents", "vector_stats_embeddings",
    "repetition_stats_documents", "chunk_documents_windows",
    "pii_scrub_documents", "weighted_sample_documents",
    "semantic_dedup_embeddings", "incremental_admit_documents",
    "cms_token_counts_documents",
]
_ROUND1_RED = [
    "byte_features_documents", "curation_pipeline_documents",
    "training_shards_documents", "balanced_mixture_documents",
]


def _driver_history() -> tuple[list[str], list[str], dict[str, int]]:
    """(red, green, last_checked_round) from CORRECTNESS_r*.json, latest
    round winning per query; falls back to the round-1 constants."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    status: dict[str, bool] = {}
    last_checked: dict[str, int] = {}
    # Numeric round sort (ADVICE r06 twin): lexicographic file order only
    # matches round order while round numbers stay zero-padded two digits.
    def _round_no(path: str) -> int:
        m = re.search(r"r(\d+)\.json$", path)
        return int(m.group(1)) if m else 0

    files = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")), key=_round_no)
    for path in files:
        rnd = _round_no(path)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            status[name] = ok
            last_checked[name] = max(last_checked.get(name, 0), rnd)
    if not status:
        return list(_ROUND1_RED), list(_ROUND1_GREEN), {}
    red = [n for n, ok in status.items() if not ok]
    green = [n for n, ok in status.items() if ok]
    return red, green, last_checked


def _rotation_state() -> tuple[list[str], list[str], int]:
    """(pinned, demoted, pin_round) from ROTATION_STATE.json.

    The driver checks only the first ~50 queries() names per round and
    does not always leave a CORRECTNESS_r{N}.json behind; without state
    the order would repeat and the tail would never be checked.  The
    LAST recorded round's head is PINNED verbatim to the front (it was
    computed for the upcoming driver run; re-deriving it after
    recording would demote its own entries — circular).  Heads of
    EARLIER rounds are presumed already exposed and demote behind
    never-exposed names.  Real CORRECTNESS data, when present,
    supersedes both."""
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "ROTATION_STATE.json")) as fh:
            rounds = json.load(fh).get("rounds", [])
    except (OSError, ValueError):
        return [], [], 0
    if not rounds:
        return [], [], 0
    pinned = list(rounds[-1].get("head", []))
    pin_round = int(rounds[-1].get("round", 0))
    demoted: list[str] = []
    for entry in rounds[:-1]:
        for name in entry.get("head", []):
            if name not in demoted and name not in pinned:
                demoted.append(name)
    return pinned, demoted, pin_round


def _rotate(full: dict) -> dict:
    """Pinned head (this round's planned driver window) first, then red
    fixes, then names no round has surfaced, then presumed-exposed
    names from earlier rounds, greens last (stalest driver check first).

    Self-advancing (VERDICT r02 ask #2, refined r07): a pinned name is
    CONSUMED — dropped from the pin so the tail advances — only when a
    driver run from the pin's own round (or later) has re-proved it
    green, i.e. last_checked >= pin_round.  Greens checked only in
    EARLIER rounds stay pinned: the round-close rotation put them there
    deliberately to refresh stale confirmations (VERDICT r05 ask #5),
    and dropping them re-served the first-checked greens instead of the
    stalest (the r06 window re-proved q1/q3/q5 while lsh_topk et al.
    stayed r01-vintage)."""
    red, green, last_checked = _driver_history()
    pinned, demoted, pin_round = _rotation_state()
    seen = set(red) | set(green)
    green_set = set(green)
    consumed = [
        n
        for n in pinned
        if n in green_set and last_checked.get(n, 0) >= pin_round
    ]
    if consumed:
        demoted = demoted + [n for n in consumed if n not in set(demoted)]
        pinned = [n for n in pinned if n not in set(consumed)]
    ordered = [k for k in pinned if k in full]
    taken = set(ordered)
    ordered += [k for k in red if k in full and k not in taken]
    taken.update(ordered)
    ordered += [
        k for k in full if k not in taken and k not in seen and k not in set(demoted)
    ]
    taken.update(ordered)
    ordered += [k for k in demoted if k in full and k not in taken and k not in seen]
    taken.update(ordered)
    green_tail = [k for k in green if k in full and k not in taken]
    green_tail.sort(key=lambda k: last_checked.get(k, 0))
    ordered += green_tail
    return {k: full[k] for k in ordered}


def _registry(kind: str) -> dict:
    """Every registered query (``kind="QUERIES"``) or oracle
    (``kind="ORACLES"``) in registration order, before rotation.
    Raises on a name two modules both register."""
    out: dict = {}
    for module in _MODULES:
        for name, value in getattr(module, kind).items():
            if name in out:
                raise ValueError(
                    f"{name!r} is registered twice ({module.__name__} repeats it)"
                )
            out[name] = value
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotate(_registry("QUERIES"))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per queries() key."""
    return _rotate(_registry("ORACLES"))
