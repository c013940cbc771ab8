#!/usr/bin/env python
"""Recompute and pin the current round's planned driver window.

Run at round close (after the query surface is final).  Derives the
optimal head ignoring any existing pin — known-red fixes first, then
names never exposed in any round, then earlier-round presumed-exposed
names — and REPLACES the last ROTATION_STATE round entry (or appends if
this round has none), so `__spark_entry__.queries()` serves exactly
this head to the driver.

Usage: python scripts/update_rotation.py <round_number>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

# Registered queries whose IMPLEMENTATION changed in a given round
# (semantics-preserving at the driver SF, but new code): place them
# right after known-reds so the driver re-proves the new shape this
# round instead of serving a stale green from the old code.
REPROVE: dict[int, list[str]] = {
    # r08: fixed-plane -> occupancy-law promotion (VERDICT r07 ask #5)
    8: [
        "hubness_lsh_embeddings",
        "embedding_split_leakage_embeddings",
        "embedding_near_dups",
    ],
    # r09: the band-sweep sample cap gained doc_id IS NOT NULL on both
    # engine and oracle sides (ADVICE r08 NULLS-ordering fix) — re-prove
    # the new shape through the driver
    9: [
        "minhash_band_sweep_documents",
    ],
    # r10: lake/table.py grew the deletion-vector layer + restore +
    # timestamp time travel in round 9 — every registered query that
    # flows through VersionedTable write/read paths and was last
    # driver-checked in r08 (on the pre-DV code) re-proves; the r09
    # lake heads (vacuum/rebucket/erasure) were checked in-round on the
    # new code already.  streaming replays ride streaming/lakehouse.py,
    # whose guard also changed (O(1) watermark read).
    10: [
        "zorder_optimize_roundtrip_orders",
        "txn_consistent_snapshot_orders",
        "ivm_incremental_dim_orders",
        "cdc_apply_schema_evolution_orders",
        "streaming_upsert_replay_events",
        "clone_divergence_orders",
        "cdc_apply_roundtrip_orders",
        "versioned_table_cdf_orders",
        "versioned_table_delete_cdf_orders",
        "versioned_table_schema_evolution_orders",
        "file_skipping_stats_orders",
    ],
    # r11: round-10 changed (a) upsert — manifest-schema alignment (the
    # schema-merge contract) + mergeSchema existing read, (b) compact —
    # orphan-DV drop + metadata-only commit path, (c) maintenance
    # commits now carry data_change=false and the table_changes planner
    # SKIPS them, (d) replication filters update_preimage, (e) restore
    # retries on conflict, (f) _commit seeds the stream watermark map on
    # mixed-era lineages.  Every registered query through those paths
    # re-proves on the new code.
    11: [
        "lake_history_audit_orders",
        "cdf_stream_replay_orders",
        "streaming_cdf_subscription_orders",
        "streaming_replication_orders",
        "optimize_dv_purge_orders",
        "dv_merge_on_read_orders",
        "dv_upsert_materialize_orders",
        "restore_undo_feed_orders",
        "time_travel_timestamp_orders",
        "rebucket_roundtrip_orders",
        "dv_vector_store_topk_embeddings",
        "vacuum_retention_orders",
        "lsh_index_maintenance_embeddings",
    ],
    # r13: VersionedTable's write side collapsed onto one bucket writer
    # (survivor rule on every bucket write) and one commit loop.  First
    # every registered query that commits through VersionedTable
    # (found by counting _commit calls per query at sf0.001), then the
    # round-12 rewrites the driver has not oracle-checked yet (the
    # lake ones among them are already in the first group).
    13: [
        "vacuum_retention_orders",
        "rebucket_roundtrip_orders",
        "physical_erasure_audit_orders",
        "versioned_table_cdf_orders",
        "versioned_table_delete_cdf_orders",
        "versioned_table_schema_evolution_orders",
        "cdc_apply_roundtrip_orders",
        "txn_consistent_snapshot_orders",
        "zorder_optimize_roundtrip_orders",
        "cdc_apply_schema_evolution_orders",
        "streaming_upsert_replay_events",
        "ivm_incremental_dim_orders",
        "clone_divergence_orders",
        "time_travel_timestamp_orders",
        "restore_undo_feed_orders",
        "dv_merge_on_read_orders",
        "dv_upsert_materialize_orders",
        "lake_history_audit_orders",
        "cdf_stream_replay_orders",
        "dv_vector_store_topk_embeddings",
        "optimize_dv_purge_orders",
        "streaming_cdf_subscription_orders",
        "streaming_replication_orders",
        "versioned_table_key_delete_orders",
        "compaction_roundtrip_orders",
        "pca_power_iteration_embeddings",
        "pca_two_components_embeddings",
        "markov_stationary_events",
        "minhash_band_sweep_documents",
    ],
}


def main() -> None:
    round_no = int(sys.argv[1])
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    state_path = os.path.join(here, "ROTATION_STATE.json")
    try:
        with open(state_path) as fh:
            state = json.load(fh)
    except (OSError, ValueError):
        state = {"rounds": []}

    # the full registry, unrotated
    full: dict = {}
    from nasa_asteroid_data_lakehouse_spark.plans import (
        analytics_queries,
        curation_queries,
        llm_queries,
        neows_queries,
        r05b_queries,
        streaming_queries,
        operator_queries,
        stats_queries,
        tpch_queries,
    )
    from nasa_asteroid_data_lakehouse_spark.plans import queries as plans

    full["q1_pricing_summary"] = plans.q1_pricing_summary
    full["q3_top_unshipped_orders"] = plans.q3_top_unshipped_orders
    full["q5_revenue_by_nation"] = plans.q5_revenue_by_nation
    full.update(operator_queries.QUERIES)
    full.update(llm_queries.QUERIES)
    full.update(analytics_queries.QUERIES)
    full.update(tpch_queries.QUERIES)
    full.update(curation_queries.QUERIES)
    full.update(stats_queries.QUERIES)
    full.update(neows_queries.QUERIES)
    full.update(streaming_queries.QUERIES)
    full.update(r05b_queries.QUERIES)
    if getattr(entry, "REGISTER_R05", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r05_queries

        full.update(r05_queries.STAGED_QUERIES)
    if getattr(entry, "REGISTER_R06", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r06_queries

        full.update(r06_queries.STAGED_QUERIES)
    if getattr(entry, "REGISTER_R07", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r07_queries

        full.update(r07_queries.STAGED_QUERIES)
    if getattr(entry, "REGISTER_R08", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r08_queries

        full.update(r08_queries.STAGED_QUERIES)
    if getattr(entry, "REGISTER_R09", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r09_queries

        full.update(r09_queries.STAGED_QUERIES)
    if getattr(entry, "REGISTER_R10", False):
        from nasa_asteroid_data_lakehouse_spark.plans import r10_queries

        full.update(r10_queries.STAGED_QUERIES)

    red, green, _ = entry._driver_history()
    seen = set(red) | set(green)
    prior = [e for e in state["rounds"] if e.get("round") != round_no]
    exposed: set = set()
    for e in prior:
        exposed.update(e.get("head", []))

    ordered = [k for k in red if k in full]
    taken = set(ordered)
    ordered += [
        k for k in REPROVE.get(round_no, []) if k in full and k not in taken
    ]
    taken.update(ordered)
    ordered += [k for k in full if k not in taken and k not in seen and k not in exposed]
    taken.update(ordered)
    ordered += [
        k
        for e in prior
        for k in e.get("head", [])
        if k in full and k not in taken and k not in seen
    ]
    taken.update(ordered)

    # Green tail: oldest-driver-check-first (VERDICT r05 ask #5), so the
    # ~34 slots after the 16 round-6 heads recycle the r01-vintage greens
    # whose last driver confirmation is stalest.
    import glob
    import re

    last_checked: dict[str, int] = {}
    # ADVICE r06: take the max round per name explicitly — lexicographic
    # file-name order only equals numeric order while round numbers stay
    # zero-padded two digits (r100 / unpadded r7 would misorder).
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name in rows:
            last_checked[name] = max(last_checked.get(name, 0), rnd)
    green_tail = [k for k in green if k in full and k not in taken]
    green_tail.sort(key=lambda k: last_checked.get(k, 0))
    ordered += green_tail

    head = ordered[:50]
    state["rounds"] = prior + [{"round": round_no, "head": head}]
    with open(state_path, "w") as fh:
        json.dump(state, fh, indent=1)
    print(f"pinned round-{round_no} head ({len(head)} names); "
          f"{len(full)} queries total")
    print("first 12:", head[:12])


if __name__ == "__main__":
    main()
