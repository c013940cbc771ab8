"""Fast plan-shape smoke for the DEFAULT (time-budgeted) selection.

tests/test_plan_quality.py pins the no-cartesian / audited-BNLJ
invariant over all 300 registered queries (~8 min) and is marked
``slow``; this module keeps plan-regression coverage inside the
default selection with a representative ~35-query subset: one or more
per family (TPC-H, lake round-trips, streaming replays, LLM dedup,
embeddings, stats) plus every query whose plan this optimization round
restructured.  Same assertions, same allowlist — a shape regression in
a covered query fails here in seconds instead of only in the full
scan.
"""

import pytest

import __spark_entry__ as entry
from tests.test_plan_quality import _BNLJ_ALLOWED

# families + every query restructured in r11/r12 and by the audit kit
_SMOKE = [
    # r12-restructured
    "pca_power_iteration_embeddings",
    "pca_two_components_embeddings",
    "markov_stationary_events",
    "minhash_band_sweep_documents",
    "minhash_lsh_pairs_documents",
    "near_dup_clusters_documents",
    "jaccard_threshold_sweep_documents",
    "cdf_stream_replay_orders",
    "streaming_replication_orders",
    "streaming_cdf_subscription_orders",
    "versioned_table_cdf_orders",
    "versioned_table_delete_cdf_orders",
    "cdc_apply_roundtrip_orders",
    "dv_merge_on_read_orders",
    "optimize_dv_purge_orders",
    "txn_consistent_snapshot_orders",
    # ANN anchor audits rewritten on the shared kit (llm/similarity.py);
    # quant_bits_sweep and ivfpq_recall are listed below
    "ann_recall_embeddings",
    "ndcg_lsh_embeddings",
    "quantized_recall_embeddings",
    "truncated_dim_recall_embeddings",
    "ivf_recall_embeddings",
    "pq_adc_recall_embeddings",
    "ivf_nprobe_sweep_embeddings",
    # r11-restructured
    "decontamination_ngram_sweep_documents",
    "streaming_full_outer_join_replay_events",
    "streaming_session_replay_events",
    "lake_history_audit_orders",
    # family representatives
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "star_build_roundtrip",
    "knn_label_agreement_embeddings",
    "quant_bits_sweep_embeddings",
    "ivfpq_recall_embeddings",
    "cosine_topk_embeddings",
    "semantic_dedup_embeddings",
    "dup_span_coverage_documents",
    "bigram_pmi_documents",
    "tfidf_cosine_pairs_documents",
    "market_basket_lineitem",
    "session_gap_sweep_events",
    "rfm_segments_orders",
    "equidepth_histogram_orders",
]


@pytest.mark.parametrize("name", _SMOKE)
def test_no_cartesian_product_smoke(spark, sf_smoke, name):
    fn = entry.queries()[name]
    plan = fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} grew an unaudited BroadcastNestedLoopJoin — audit it"
            " and extend _BNLJ_ALLOWED in tests/test_plan_quality.py if it"
            " is one of the sanctioned single-row/bounded shapes"
        )
