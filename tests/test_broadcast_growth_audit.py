"""Recurring static audit for CODE-FORCED broadcasts (round 12).

An explicit ``F.broadcast()`` hint overrides the engine's size logic:
AQE demotes an auto-chosen broadcast when the runtime size crosses the
threshold, but a hinted one ships to every executor (and assembles on
the driver) regardless of how big it got. A hint on a BOUNDED side —
dim table, scalar aggregate, fixed grid, partition-count spine — is
free documentation; a hint on an ENTITY- or FACT-proportional side is
a driver/executor OOM at 100 TB that no local SF reveals (at sf0.1 a
per-user aggregate is a few thousand rows and broadcasting it IS the
fastest plan). The sf-slope soak cannot see the hazard (the broadcast
is a small additive cost locally), and the explode/stream-side/
global-window sweeps look for different signatures.

The audit reads every query's plan under ``autoBroadcastJoinThreshold=-1`` and
AQE OFF, so the only surviving BroadcastExchange nodes are the ones our
code forces (explicit hints, plus the BNLJ sides the planner must
broadcast for non-equi outer joins — tagged by join type). Every
flagged query is pinned to an adjudicated entry whose reason states the
measured build-side growth at 10x data
(scripts/audit_broadcast_growth.py --measure, artifact committed as
AUDIT_broadcast_r12.json). Any query acquiring a NEW forced broadcast
fails here until adjudicated.
"""

from __future__ import annotations


#: query -> adjudicated reason (measured growth of every forced
#: broadcast's build side at 10x data, sf0.001 -> sf0.01; artifact:
#: AUDIT_broadcast_r12.json). The 15 queries whose hints covered
#: GROWING sides (part/customer/supplier/per-block state) were fixed
#: in r12 by dropping the hint - size-gated, AQE broadcasts while the
#: side fits and shuffles at scale - so they either left this list or
#: remain only for their bounded hints.
ALLOWED = {
    "q11_dim_enrich_join": "bounded: 2 build side(s), max rows 25, max growth 1.0 at 10x",
    "q18_fuzzy_name_join": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q35_percentile_composite": "bounded: 8 build side(s), max rows 32, max growth 1.0 at 10x",
    "q53_iterative_ratings": "bounded: 2 build side(s), max rows 4, max growth 1.0 at 10x",
    "q74_sequence_packing": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q80_histogram_quantiles": "bounded: 2 build side(s), max rows 998, max growth 1.28 at 10x",
    "q81_bloom_semi_join": "bloom word table x2 legs: 255/leg -> 973 at 10x, saturates at m/64 = 1024 words (8 KB) by construction",
    "q84_boilerplate_ngrams": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q86_rating_spine": "bounded: 1 build side(s), max rows 4, max growth 1.0 at 10x",
    "q91_gapfill_interpolate": "bounded: 1 build side(s), max rows 2405, max growth 1.0 at 10x",
    "q92_keyword_extraction": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q93_exact_quantile_select": "bounded: 3 build side(s), max rows 998, max growth 1.28 at 10x",
    "q100_row_ids": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q104_skew_profile": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q105_region_revenue": "bounded: 2 build side(s), max rows 25, max growth 1.0 at 10x",
    "q107_grouped_median": "bounded: 2 build side(s), max rows 10, max growth 1.0 at 10x",
    "q110_vocab_head": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q111_weighted_sample": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q114_rating_invariants": "bounded: 1 build side(s), max rows 4, max growth 1.0 at 10x",
    "q115_skew_kernel_salted": "bounded scalar branches (no growth measurable: zero-row exchange at sf0.001)",
    "q122_cooccurrence_lift": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q125_countmin_heavy_hitters": "count-min sketch cells: 40 -> 400 at 10x, saturates at d*w = 4*256 = 1024 occupied cells; fixed mergeable state by design",
    "q127_mad_outliers": "bounded: 8 build side(s), max rows 5, max growth 1.0 at 10x",
    "q128_sliding_distinct": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q132_domain_mix": "bounded: 4 build side(s), max rows 20, max growth 1.0 at 10x",
    "q133_zorder_skipping": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q138_substring_decontaminate": "bounded: 1 build side(s), max rows 6, max growth 1.0 at 10x",
    "q140_winsorize": "bounded: 4 build side(s), max rows 5, max growth 1.0 at 10x",
    "q148_vocab_ids": "bounded: 2 build side(s), max rows 31, max growth 1.0 at 10x",
    "q149_bloom_block_skipping": "bounded: 3 build side(s), max rows 3, max growth 1.0 at 10x",
    "q150_events_endpoint": "bounded scalar branches (no growth measurable: zero-row exchange at sf0.001)",
    "q151_expectations": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q152_ols_scoring": "bounded: 1 build side(s), max rows 3, max growth 1.0 at 10x",
    "q153_equidepth_histogram": "bounded: 4 build side(s), max rows 998, max growth 1.28 at 10x",
    "q154_setsim_prefix_join": "bounded: 1 build side(s), max rows 31, max growth 1.0 at 10x",
    "q155_audience_overlap": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q158_chi_square": "bounded: 5 build side(s), max rows 7, max growth 1.0 at 10x",
    "q159_seasonal_anomalies": "bounded: 2 build side(s), max rows 120, max growth 1.0 at 10x",
    "q160_markov_transitions": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q162_weighted_median": "bounded: 1 build side(s), max rows 20, max growth 1.0 at 10x",
    "q163_hierarchical_share": "bounded: 2 build side(s), max rows 25, max growth 1.0 at 10x",
    "q164_kmeans_lloyd": "bounded: 1 build side(s), max rows 8, max growth 1.0 at 10x",
    "q166_rfm_segments": "stable_row_ids prefix-offset spines + scalar counts: 15 -> 32 rows = the range-partition count filling to its P=32 cap, not data growth",
    "q167_cusum_changepoint": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q168_tvd_drift": "bounded: 1 build side(s), max rows 2, max growth 1.0 at 10x",
    "q169_unpivot_long": "bounded: 1 build side(s), max rows 25, max growth 1.0 at 10x",
    "q171_decile_lift": "bounded: 3 build side(s), max rows 32, max growth 1.0 at 10x",
    "q172_bootstrap_variance": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q177_oov_rate": "bounded: 1 build side(s), max rows 31, max growth 1.0 at 10x",
    "q179_funnel_latency_median": "median-pick scalar row: 1 -> 2 (even/odd row-count pick), <= 2 rows always",
    "q195_cdc_compaction": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q198_iqr_outliers": "bounded: 3 build side(s), max rows 5, max growth 1.0 at 10x",
    "q199_join_cardinality": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q208_value_percentiles": "bounded: 1 build side(s), max rows 4, max growth 1.0 at 10x",
    "q209_lorenz_concentration": "bounded: 3 build side(s), max rows 32, max growth 1.0 at 10x",
    "q214_benford_digits": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q215_emd_drift": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q218_ks_test": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q219_srm_check": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q220_volume_shipping": "bounded: 1 build side(s), max rows 2, max growth 1.0 at 10x",
    "q221_important_parts": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q223_top_supplier": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q226_sales_opportunity": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q227_market_share": "bounded: 3 build side(s), max rows 25, max growth 1.0 at 10x",
    "q229_bpe_merge_step": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q231_temperature_mix": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q234_kn_continuation_counts": "bounded: 2 build side(s), max rows 31, max growth 1.0 at 10x",
    "q243_loo_target_encoding": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q253_matched_controls": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q256_maxmin_fair_share": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q259_semantic_decontamination": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q261_uplift_deciles": "stable_row_ids prefix-offset spine: 15 -> 32 = partition count at its P=32 cap, not data",
    "q267_repeat_factor_manifest": "bounded: 2 build side(s), max rows 20, max growth 1.0 at 10x",
    "q272_bloom_fpr_audit": "bloom bit table: 389 -> 2587 at 10x, saturates at m = 4096 bits by construction",
    "q274_sequential_ab_looks": "bounded: 1 build side(s), max rows 2, max growth 1.0 at 10x",
    "q278_bandit_allocation": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q280_nearest_facility": "bounded: 1 build side(s), max rows 11, max growth 1.1 at 10x",
    "q282_zone_containment_join": "zones = suppliers with s_suppkey < 20: hard-capped at 20 rows by the key filter (10 -> 20 is fill-in, not growth)",
    "q285_topk_plus_other": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q302_negative_sampling": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q306_quantile_normalize": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q307_mode_imputation": "bounded: 1 build side(s), max rows 25, max growth 1.0 at 10x",
    "q309_pq_assign": "bounded: 1 build side(s), max rows 512, max growth 1.0 at 10x",
    "q311_popularity_bias": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q313_shapley_attribution": "bounded: 2 build side(s), max rows 8, max growth 1.0 at 10x",
    "q316_cuped_adjustment": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q319_join_strategy_advisor": "bounded: 2 build side(s), max rows 7, max growth 1.0 at 10x",
    "q321_seasonal_naive_backtest": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q326_mix_schedule": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q328_kaplan_meier": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q331_interval_forecast_eval": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q332_graph_modularity": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q334_posthoc_pairwise": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q336_cohort_ltv": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q338_tier_migration": "stable_row_ids prefix-offset spines x2: 15 -> 32 = partition count at its P=32 cap, not data",
    "q339_multiclass_eval": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q340_var_cvar": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q346_dag_slack": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q347_simpson_guard": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q349_hotelling_t2": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q351_conformal_interval": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q353_rolling_origin": "bounded: 2 build side(s), max rows 3, max growth 1.0 at 10x",
    "q355_eb_shrinkage": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q358_active_learning_batch": "bounded: 1 build side(s), max rows 21, max growth 1.31 at 10x",
    "q359_spike_attribution": "bounded: 5 build side(s), max rows 1, max growth 1.0 at 10x",
    "q362_randomization_test": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q369_regression_discontinuity": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q372_event_study": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q373_rmst": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q376_null_semantics": "NOT IN = null-aware anti join, broadcast-only by engine contract (no shuffle strategy exists); deliberate semantics fixture - production anti-joins use LEFT ANTI (q14/q291)",
    "q381_dup_cluster_histogram": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q385_design_effect": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q386_stratified_ate": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q387_storage_tiering": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q390_jackknife_ratio": "bounded: 4 build side(s), max rows 1, max growth 1.0 at 10x",
    "q391_candidate_transitivity": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q392_dominant_period": "bounded: 1 build side(s), max rows 9, max growth 1.0 at 10x",
    "q393_missingness_audit": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q395_prevalence_correction": "bounded: 1 build side(s), max rows 3, max growth 1.0 at 10x",
    "q396_weighted_kappa": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q397_profit_threshold": "bounded: 2 build side(s), max rows 9, max growth 1.0 at 10x",
    "q400_health_scorecard": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q401_rank_aggregation": "bounded: 14 build side(s), max rows 32, max growth 1.0 at 10x",
    "q402_elbow_wcss": "bounded: 3 build side(s), max rows 1280, max growth 1.0 at 10x",
    "q417_brier_decomposition": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q421_neyman_allocation": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q424_kde_epanechnikov": "bounded: 1 build side(s), max rows 50, max growth 1.0 at 10x",
    "q425_fellegi_sunter": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q426_min_cost_supplier": "bounded: 2 build side(s), max rows 5, max growth 1.0 at 10x",
    "q427_good_turing": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q432_locf_gapfill": "bounded: 1 build side(s), max rows 30, max growth 1.0 at 10x",
    "q434_streaming_countmin": "same count-min cell table as q125 (streaming variant): saturates at d*w",
    "q440_cluster_safe_split": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q441_mv_selection": "bounded: 14 build side(s), max rows 1, max growth 1.0 at 10x",
    "q446_sampled_join_estimate": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q449_bh_fdr_sign_tests": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q451_mv_selection_fused": "bounded: 2 build side(s), max rows 2, max growth 1.0 at 10x",
    "q452_markov_next_event_accuracy": "bounded: 2 build side(s), max rows 5, max growth 1.0 at 10x",
    "q455_linkage_threshold_curve": "bounded: 2 build side(s), max rows 8, max growth 1.0 at 10x",
    "q456_hash_uniformity_audit": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q457_bm25_topk": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q458_vocab_growth": "bounded: 2 build side(s), max rows 32, max growth 1.0 at 10x",
    "q459_spearman_rank_corr": "bounded: 1 build side(s), 150 rows at BOTH sf0.001 and sf0.01 (growth 1.0 at 10x) - the quantity-marginal midrank table is capped at |returnflag| x |distinct l_quantity| = 3 x 50 by the TPC-H value domain",
    "q460_kruskal_wallis": "bounded: 2 build side(s), max rows 50, max growth 1.0 at 10x",
    "q462_allen_relations": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q463_dtw_distance": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q465_ljung_box": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q466_page_hinkley": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q468_runs_test": "bounded: 1 build side(s), max rows 5, max growth 1.0 at 10x",
    "q469_friedman_test": "bounded: 2 build side(s), max rows 4, max growth 1.0 at 10x",
    "q471_shuffle_audit": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q472_risk_coverage": "bounded: 2 build side(s), max rows 5, max growth 1.0 at 10x",
    "q473_newsvendor": "bounded: 2 build side(s), max rows 1, max growth 1.0 at 10x",
    "q475_sketch_quantile_gate": "bounded: 4 build side(s), max rows 998, max growth 1.28 at 10x",
    "q476_join_view_maintenance": "bounded: 3 build side(s), max rows 1, max growth 1.0 at 10x",
    "q477_sequential_patterns": "bounded: 3 build side(s), max rows 5, max growth 1.0 at 10x",
    "q479_hilbert_locality": "bounded: 1 build side(s), max rows 1, max growth 1.0 at 10x",
    "q483_subsequence_patterns_3": "bounded: 2 build side(s), max rows 125, max growth 1.0 at 10x",
}



def test_detector_on_synthetic_plans():
    from audit_broadcast_growth import broadcast_heads

    hinted = """*(5) Project [a# ASC]
+- *(5) BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight, false
   :- *(5) ColumnarToRow
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=71]
      +- *(4) HashAggregate(keys=[k#2L], functions=[count(1)])"""
    assert broadcast_heads(hinted) == ["hashed <- BroadcastHashJoin"]

    bnlj = """BroadcastNestedLoopJoin BuildRight, LeftOuter, (a#1 < b#2)
:- *(1) ColumnarToRow
+- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
   +- *(2) ColumnarToRow"""
    assert broadcast_heads(bnlj) == [
        "identity <- BroadcastNestedLoopJoin BuildRight, LeftOuter, (a# < b#)"
    ]

    # shuffle joins and cartesian products are not this signature
    smj = """*(2) SortMergeJoin [k#1L], [k#2L], Inner
:- *(1) Sort
+- *(2) Sort"""
    assert broadcast_heads(smj) == []
    cart = """CartesianProduct
:- *(1) ColumnarToRow
+- *(2) ColumnarToRow"""
    assert broadcast_heads(cart) == []


def test_registry_sweep_restores_conf(spark, request):
    """The registry sweep is the one place that switches AQE and the
    broadcast threshold; it must leave the PRIOR values behind, not
    hardcoded defaults. This is the first test in collection order to
    request the sweep, so it sees the conf from before it ran."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    before = {k: spark.conf.get(k) for k in keys}
    request.getfixturevalue("registry_plans")
    assert {k: spark.conf.get(k) for k in keys} == before


def test_no_unadjudicated_forced_broadcast(registry_plans):
    from audit_broadcast_growth import broadcast_heads

    flagged = {
        name: sorted(set(heads))
        for name, p in registry_plans.items()
        if (heads := broadcast_heads(p.forced_broadcast))
    }
    new = {k: v for k, v in flagged.items() if k not in ALLOWED}
    assert not new, (
        "unadjudicated code-forced broadcast (a hinted build side that "
        "grows with the corpus is a 100 TB OOM no local SF reveals): "
        f"{new} - measure its growth with scripts/audit_broadcast_growth.py "
        "--measure, then bound it / drop the hint / add an allowlist entry "
        "with the measured reason"
    )
    gone = sorted(set(ALLOWED) - set(flagged))
    assert not gone, (
        f"allowlist entries no longer flagged (stale): {gone} - prune them"
    )
