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
    # r14: the gold builders' dedup moved into the merge
    # (merge_dataframes now drops every __-prefixed helper column), the
    # create path merges too, and read_table_if_exists gained a
    # declared-schema option.  Every registered query that reaches
    # those functions: the NeoWs star join (build_dim_*), the silver
    # flatten that feeds it, the merge operator query, and the
    # streaming rollup (fold_mergeable_batch's existence probes).
    14: [
        "neows_star_join",
        "neows_flatten_silver",
        "merge_upsert_orders",
        "streaming_rollup_replay_events",
    ],
    # r16: every registered replay moved onto one scratch lifecycle
    # (scratch.query_scratch) and the stream replays onto one drain
    # (streaming/replay.py) that raises on watermark drops and reads the
    # sink with the stream's schema; vacuum now reaches optimize's
    # nested files.  Streaming replays first, then the lake round trips.
    16: [
        "streaming_score_replay_documents",
        "streaming_session_replay_events",
        "streaming_dedup_replay_events",
        "streaming_upsert_replay_events",
        "streaming_interval_join_replay_events",
        "streaming_enrich_replay_events",
        "streaming_outer_join_replay_events",
        "streaming_full_outer_join_replay_events",
        "streaming_cdf_subscription_orders",
        "streaming_replication_orders",
        "streaming_rollup_replay_events",
        "file_skipping_stats_orders",
        "versioned_table_cdf_orders",
        "versioned_table_delete_cdf_orders",
        "versioned_table_schema_evolution_orders",
        "versioned_table_key_delete_orders",
        "compaction_roundtrip_orders",
        "cdc_apply_roundtrip_orders",
        "txn_consistent_snapshot_orders",
        "zorder_optimize_roundtrip_orders",
        "cdc_apply_schema_evolution_orders",
        "ivm_incremental_dim_orders",
        "clone_divergence_orders",
        "vacuum_retention_orders",
        "rebucket_roundtrip_orders",
        "physical_erasure_audit_orders",
        "time_travel_timestamp_orders",
        "restore_undo_feed_orders",
        "dv_merge_on_read_orders",
        "dv_upsert_materialize_orders",
        "lake_history_audit_orders",
        "cdf_stream_replay_orders",
        "dv_vector_store_topk_embeddings",
        "optimize_dv_purge_orders",
    ],
    # r17: VersionedTable.vacuum compares realpaths and fails closed on
    # a missing referenced file; these are the registered queries that
    # vacuum.
    17: [
        "vacuum_retention_orders",
        "physical_erasure_audit_orders",
        "dv_merge_on_read_orders",
        "optimize_dv_purge_orders",
    ],
    # r18: the nine ANN recall audits run on one anchor-audit kit in
    # llm/similarity.py, and every seed quantizer goes through
    # seed_centroids (NULL ids sort last, as in the oracles); the int8
    # lattice and the PQ code fold each have one definition.
    18: [
        "ann_recall_embeddings",
        "ndcg_lsh_embeddings",
        "quantized_recall_embeddings",
        "truncated_dim_recall_embeddings",
        "ivf_recall_embeddings",
        "pq_adc_recall_embeddings",
        "ivfpq_recall_embeddings",
        "ivf_nprobe_sweep_embeddings",
        "quant_bits_sweep_embeddings",
        "ivf_topk_embeddings",
        "semantic_dedup_embeddings",
        "pq_codes_embeddings",
        "centroid_inertia_embeddings",
        "silhouette_embeddings",
        "ivfpq_topk_embeddings",
        "ivfpq_residual_topk_embeddings",
        "quantized_embeddings",
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

    full = entry._registry("QUERIES")  # the full registry, unrotated

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
