"""Recurring static audit for GLOBAL (single-partition) windows
(round 10 — the q273 class).

A Window with no PARTITION BY plans as ``Window ← Sort ← Exchange
SinglePartition``: every input row funnels through ONE reducer. The
sf-slope soak cannot see the hazard (one core doing O(n log n) looks
linear); the at-scale form is a stall. The sweep found 46 queries with
a global window; each was ADJUDICATED by measuring the exchange's
``shuffleRecordsWritten`` at sf0.001 vs sf0.01
(scripts/audit_global_window.py --measure): growth ≈ 1 is a bounded
spine (k arms, fixed grids, plan enumerations), saturating growth is a
value-domain histogram (the q306 cent-grid family), and growth ≈ 10 is
corpus-proportional — allowed ONLY with the at-scale replacement named
(the q306 rank-block join for entity-aggregate ranks). q273 — three
windows over RAW corpus rows, the worst on the board — was fixed
outright (range-partitioned repeat kernel, oracle unchanged).

Any query acquiring a NEW global window fails here until adjudicated.
"""

from __future__ import annotations


#: query -> measured growth of single-partition-window input rows at 10x
#: data (sf0.001 -> sf0.01) + the boundedness adjudication. Three classes:
#:   BOUNDED   — growth ~1: fixed-cardinality spine, safe at any scale
#:   SATURATES — sub-linear growth: value-domain histogram, converges to
#:               the domain size (the q306 cent-grid family)
#:   ENTITY    — growth ~10: proportional to an entity aggregate (users/
#:               parts/customers), NOT raw facts; at catalog scale the
#:               q306 rank-block join (grid trick) replaces the global
#:               rank window — named here as the stated contract
ALLOWED = {
    # BOUNDED spines (growth 1.0)
    "q215_emd_drift": "10 fixed period-pair rows",
    "q256_maxmin_fair_share": "20 consumers by fixture design",
    "q267_repeat_factor_manifest": "20 fixed source buckets",
    "q278_bandit_allocation": "5 arms",
    "q366_successive_halving": "halving rounds over 5 arms (5,3,2,1)",
    "q372_event_study": "11 fixed event-time offsets",
    "q375_fractional_knapsack": "500 candidate items (capped upstream)",
    "q402_elbow_wcss": "K=5 candidate cluster counts",
    "q421_neyman_allocation": "5 strata",
    "q438_selinger_join_order": "24 plan-enumeration rows (bounded by join count)",
    "q449_bh_fdr_sign_tests": "5 hypotheses x2",
    "q455_linkage_threshold_curve": "8-row threshold grid",
    "q460_kruskal_wallis": "50 rank-group rows (bounded by group spine)",
    "q471_shuffle_audit": "1 summary row",
    "q472_risk_coverage": "5 coverage bands",
    # the unrolled fixed-count sweeps: a normalizer over the whole
    # node-sized vector is a window so each step reads its predecessor
    # once (operators/fixpoint.py)
    "q141_pca_power_iteration": "64 embedding dims (MAX(ABS(w)) per sweep, "
    "SUM(v) sign fix)",
    "q413_hits_scores": "24 graph nodes (mod-24 ids; MAX(raw) per half-sweep)",
    "q474_markov_attribution": "5 scenario rows (base + 4 removed channels)",
    "q273_codec_advisor": "P=32 per-partition boundary rows (the r10 fix's "
    "stitch pass — bounded by the partition count, never the corpus)",
    "q371_adversarial_validation": "n_chars histogram, 311->313 at 10x "
    "(value-domain saturated)",
    # SATURATING value-domain histograms (growth 1.28-2.3; the domain,
    # not the corpus, is the ceiling — the q306 cent-grid family)
    "q153_equidepth_histogram": "distinct cent values, 780->998 at 10x",
    "q80_histogram_quantiles": "same cent histogram as q153",
    "q93_exact_quantile_select": "same cent histogram as q153",
    "q475_sketch_quantile_gate": "same cent histogram as q153",
    "q320_slo_burn_rate": "hour buckets, calendar-bounded (531->720 = 30d x 24h)",
    "q328_kaplan_meier": "distinct survival durations (7->16, day-grid bounded)",
    "q373_rmst": "same duration grid as q328",
    "q369_regression_discontinuity": "running-variable bins (10->19)",
    "q473_newsvendor": "distinct demand levels (11->19)",
    "q38_lag_delta": "one row per calendar day (1094->2399 = the date range "
    "filling in; saturates at the ~2400-day calendar)",
    "q163_hierarchical_share": "hierarchy nodes (10->25, region/nation-bounded)",
    # ENTITY-aggregate ranks (growth ~10 in entities, NEVER raw facts).
    # r10 converted the class wholesale to stable_row_ids /
    # distributed_ntile (q166/q171/q209/q261/q285/q311/q347/q386/q401/
    # q35 — oracles unchanged, hash-certified); the remaining entries
    # here are the ones whose window survives in bounded/saturating
    # form
    # q166 converted r10: its three entity NTILEs now run as
    # distributed_ntile, so it no longer flags at all
    # q338 converted r11 (its r10 freeze reason — pending official
    # re-row — expired when r10 rowed it green): spender ranks via
    # stable_row_ids, n_active via broadcast count, tier -1 rejoining
    # through a left join — no global window remains, so it no longer
    # flags
    "q171_decile_lift": "10-row decile walk (the NTILE itself converted to "
    "distributed_ntile in r10)",
    "q209_lorenz_concentration": "10-row Lorenz walk (NTILE converted to "
    "distributed_ntile in r10)",
    "q218_ks_test": "distinct cents (3343, saturating); grid join at scale",
    "q238_exact_auc": "distinct scores (6583, saturating); grid join at scale",
    "q297_mann_whitney_u": "distinct cents (3310, saturating); grid join at scale",
    "q301_key_gap_audit": "key blocks = keys/1024 (59); block spine shrinks 1024x",
    "q306_quantile_normalize": "histogram blocks (3343, saturating) - the grid "
    "trick's own bounded spine",
    "q315_backfill_planner": "date blocks (59); block spine, calendar-bounded",
    # q401 converted r10: criterion ranks via stable_row_ids; final_rank
    # runs after the TakeOrdered over the bounded top-N slice (no new
    # SinglePartition exchange appears, so it no longer flags)
    "q478_cramer_von_mises": "distinct cents (5974, saturating); grid join at scale",
}


def test_detector_on_synthetic_plans():
    from audit_global_window import global_window_heads

    global_plan = """Window [row_number() windowspecdefinition(x#1L ASC)], [x#1L ASC]
+- *(2) Sort [x#1L ASC NULLS FIRST], false, 0
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
      +- *(1) ColumnarToRow"""
    assert len(global_window_heads(global_plan)) == 1

    partitioned_plan = """Window [row_number()], [k#2L], [x#1L ASC]
+- *(2) Sort [k#2L ASC, x#1L ASC], false, 0
   +- Exchange hashpartitioning(k#2L, 32), ENSURE_REQUIREMENTS, [plan_id=1]
      +- *(1) ColumnarToRow"""
    assert global_window_heads(partitioned_plan) == []

    # a global SORT (no window) is not this signature
    sort_plan = """*(3) Sort [x#1L ASC NULLS FIRST], true, 0
+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
   +- *(1) ColumnarToRow"""
    assert global_window_heads(sort_plan) == []

    # an aggregate between the exchange and the window is not a global
    # window over the exchange's rows
    agg_between = """Window [row_number() windowspecdefinition(n#3L ASC)], [n#3L ASC]
+- *(3) HashAggregate(keys=[g#2L], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
      +- *(1) ColumnarToRow"""
    assert global_window_heads(agg_between) == []


def test_no_unadjudicated_global_window(registry_plans):
    from audit_global_window import global_window_heads

    flagged = {
        name: heads
        for name, p in registry_plans.items()
        if (heads := global_window_heads(p.default))
    }
    new = {k: v for k, v in flagged.items() if k not in ALLOWED}
    assert not new, (
        "unadjudicated GLOBAL window (every row through one reducer at "
        f"scale): {new} - partition it, use the q306 rank-block join, or "
        "add an allowlist entry with the measured boundedness"
    )
    gone = sorted(set(ALLOWED) - set(flagged))
    assert not gone, (
        f"allowlist entries no longer flagged (stale): {gone} - prune them"
    )
