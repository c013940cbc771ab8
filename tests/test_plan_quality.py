"""Plan-shape regression pins over the ENTIRE query surface.

docs/PLANS.md records a point-in-time audit (0 cartesian products,
broadcast-heavy join mix); this test makes the invariant permanent:
every registered query must optimize to a plan with no
CartesianProduct, and every BroadcastNestedLoopJoin must be one of the
two sanctioned shapes (single-row scalar-subquery join or bounded
broadcast-anchor pair stage) — approximated here by requiring the
plan's BNLJ count to stay at the audited level per query rather than
silently growing.
"""

import pytest

# Deselected by default (pytest.ini addopts -m 'not slow'): full 300-query plan scan (~8 min); the default set runs tests/test_plan_quality_smoke.py.
# Run with `pytest -m ""` to include; assertions are unchanged.
pytestmark = pytest.mark.slow

import __spark_entry__ as entry

# Queries whose audited plan legitimately contains BroadcastNestedLoopJoin:
# single-row totals joins (scalar subquery pattern) or bounded
# broadcast-anchor non-equi pair stages.  Anything NOT listed here must
# have zero BNLJs.
_BNLJ_ALLOWED = {
    # jsd's pair skeleton: inequality self-join over the O(groups)
    # totals table — bounded broadcast-anchor shape by construction.
    "jsd_source_pairs",
    # r05: bounded broadcast-
    # anchor recall audits, same shape as quantized_recall
    "truncated_dim_recall_embeddings",
    "ivf_recall_embeddings",
    # r05b: O(days) pair table for the Theil-Sen median — bounded
    # broadcast inequality self-join by construction
    "theil_sen_daily_events",
    # r05b: 4-row literal promo dim, overlapping ranges — bounded
    # broadcast range-join shape by construction
    "promo_window_join_orders",
    # r05b: bounded broadcast-anchor recall audit (same shape as
    # ann_recall / quantized_recall)
    "pq_adc_recall_embeddings",
    # r05b: two single-row aggregates cross-joined (node/edge counts)
    "kcore_peel_documents",
    # r06: bounded single-row /
    # broadcast-anchor crossJoin shapes, audited at staging time
    "stl_decomposition_daily_events",   # 1-row grand-mean broadcast
    "stump_split_events",               # 19-row threshold grid broadcast
    "pca_power_iteration_embeddings",   # per-iteration 1-row norm + sign
    "pca_two_components_embeddings",    # same, twice (deflation)
    "markov_stationary_events",         # per-iteration 1-row mass + count
    "ndcg_lsh_embeddings",              # broadcast anchors x corpus (as ann_recall)
    "simhash_vs_minhash_agreement_documents",  # three 1-row count joins
    "shrunk_dup_rates_sources",         # 1-row pooled-rate broadcast
    "good_turing_documents",            # 1-row token-total broadcast
    "hill_tail_index_orders",           # 1-row k-th-value broadcast
    "gumbel_fit_daily_events",          # single-row aggregate output
    "ks_matrix_sources",                # sources x distinct-lens dense grid (bounded)
    "stylometry_delta_sources",         # sources x top-30 dense grid (bounded)
    # single-row grand-total broadcast (share-of-total projection)
    "hourly_seasonality_events",
    "profile_documents",
    "cosine_topk_embeddings",
    "hybrid_retrieval_documents",
    "dedup_savings_documents",
    "embedding_outliers",
    "dq_report_orders",
    "heavy_hitters_orders",
    "dataset_card_sources",
    "temperature_mixture_documents",
    "hard_negatives_embeddings",
    "knn_label_agreement_embeddings",
    "ann_recall_embeddings",
    "quantized_recall_embeddings",
    "holdout_sample_documents",
    "weighted_sample_documents",
    "balanced_mixture_documents",
    "budget_select_documents",
    "train_val_test_split_documents",
    "decile_stats_orders",
    "anomaly_daily_events",
    "regression_stats_lineitem",
    "above_segment_average_orders",
    "sql_subqueries",
    "price_histogram_orders",
    "quantiles_by_returnflag",
    "approx_quantiles_lineitem",
    "winsorized_prices_by_segment",
    "pmi_cooccurrence_documents",
    "bm25_scores_documents",
    "tfidf_top_terms",
    "vocab_overlap_sources",
    "cumulative_users_events",
    "retention_cohorts_events",
    "theta_overlap_orders",
    "sketch_rollup_orders",
    "cms_token_counts_documents",
    "incremental_admit_documents",
    "decontaminate_documents",
    "curation_pipeline_documents",
    "star_build_roundtrip",
    "q22_idle_customers",
    "q11_important_stock",
    "q15_top_supplier",
    "dup_span_coverage_documents",
    "stats_by_segment",
    # single-row boundary-vector broadcast (equi-depth bucket assign)
    "equidepth_histogram_orders",
    # r06: single-row percentile-boundary + count broadcast feeding the
    # bucketed exact-rank NTILE rewrite (VERDICT r05 ask #2)
    "lorenz_deciles_orders",
    # r07: audited bounded shapes
    "skyline_daily_events",      # O(days) broadcast dominance anti-join
    "bootstrap_ci_orders",       # 1-row CI broadcast onto 1-row base
    "tfidf_cosine_pairs_documents",  # 1-row corpus-count broadcast
    # r08: audited bounded shapes
    "ivfpq_recall_embeddings",   # broadcast anchors x corpus (as pq_adc_recall)
    "lsh_index_maintenance_embeddings",  # single-row total/count broadcasts
    "clone_divergence_orders",   # two 1-row audit aggregates cross-joined
    "minhash_band_sweep_documents",  # 1-row verified/truth-count broadcasts
    # r09: broadcast anchors x corpus
    # + 1-row exact/total-count broadcasts (as ivf_recall)
    "ivf_nprobe_sweep_embeddings",
    # r09 sweeps (caught by this scan at registration, audited):
    # jaccard crossJoins ONE broadcast 1-row candidate-count aggregate
    # onto the 3-row threshold table; temperature crossJoins the 1-row
    # per-lang-total broadcast onto the bounded lang-weight grid
    "jaccard_threshold_sweep_documents",
    "mixture_temperature_sweep_documents",
    # r10: broadcast anchors x corpus
    # (as quantized_recall) — one shared pair frame, 3 rank filters
    "quant_bits_sweep_embeddings",
    # single-row group-total / series-mean broadcasts
    "market_basket_lineitem",
    "cusum_daily_events",
    "runs_test_daily_events",
}


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_no_cartesian_product(spark, sf_smoke, name):
    fn = entry.queries()[name]
    plan = fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} grew an unaudited BroadcastNestedLoopJoin — either a"
            " join condition stopped being an equi-join or a new scalar"
            " subquery appeared; audit it and extend _BNLJ_ALLOWED if"
            " it is one of the sanctioned single-row/bounded shapes"
        )
