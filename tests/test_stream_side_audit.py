"""Recurring stream-side hazard audit (VERDICT r8 item 5).

`scripts/audit_stream_side.py` found q287's 46-second single-core join
STATICALLY (grouped agg feeding a broadcast join's streamed side with a
fan-out and no re-spread — the q482/q287 class), but as a one-off script
its adjudication lived in a docstring: a NEW hazard introduced later
would wait until someone reran it by hand. This test runs the detector
over every registered query's plan from the shared registry sweep
(``registry_plans``) and fails when a flag appears that is not in the
adjudicated allowlist.

Each allowlist entry carries the measured reason. If this test fails on
a new query: either fix the plan (explicit REPARTITION on the streamed
side, the q287 salt pattern) or measure it at sf1 (scale_soak
``names:``) and add it here WITH the slope evidence.
"""

from __future__ import annotations

from audit_stream_side import audit_plan

# name -> measured adjudication (slope = sf0.1 -> sf1 wall ratio on 10x
# data; rows live in the cited SOAK artifact).
ALLOWLIST = {
    "q125_countmin_heavy_hitters": "fan-out is the fixed sketch grid; slope 1.13 (SOAK_r08)",
    "q128_sliding_distinct": "window-end spine bounded by 30-day calendar; slope 1.86 (SOAK_r06)",
    "q129_ts_interpolate": "day-spine left join, calendar-bounded; slope 1.27 (SOAK_r08)",
    "q154_setsim_prefix_join": "prefix-token join, PPJoin-filtered; slope 1.52 (SOAK_r06)",
    "q170_bigram_surprise": "unigram-margin join keyed on vocab; slope 5.86 tracks token volume (SOAK_r06)",
    "q272_bloom_fpr_audit": "bit-position join bounded by fixed filter width; slope 2.09 (SOAK_r08)",
    "q290_adstock_carryover": "(user, week) left join bounded by users x 5 weeks; slope 1.06 (SOAK_r08)",
    "q306_quantile_normalize": "rank-block join bounded by block grid; slope 0.92 (SOAK_r06)",
    "q321_seasonal_naive_backtest": "lag-7 daily spine, calendar-bounded; slope 1.21 (SOAK_r08)",
    "q353_rolling_origin": "non-equi day-range BNLJ bounded by folds x 30 days; slope 1.12 (SOAK_r08)",
    # q45_simhash_pairs pruned round 9: its band join is now pinned
    # shuffle-hash (the live-bug-#9 sweep), so the broadcast-stream-side
    # signature no longer appears in its plan.
    "q465_ljung_box": "calendar-spine day-count ACF; slope 1.10 (SOAK_r08)",
    "q466_page_hinkley": "day-spine left join, calendar-bounded; slope 1.13 (SOAK_r08)",
}


def test_no_unadjudicated_stream_side_hazards(registry_plans):
    flagged = {
        name: hits[0]
        for name, p in registry_plans.items()
        # streaming queries return memory-sink scans; covered in test_streaming
        if "stream" not in name and (hits := audit_plan(p.default))
    }

    new = {n: h for n, h in flagged.items() if n not in ALLOWLIST}
    assert not new, (
        "NEW grouped-agg-feeds-stream-side hazards (the q482/q287 class): "
        f"{new} - fix the plan (explicit re-spread on the streamed side) "
        "or soak at sf1 and extend the allowlist with the measured slope"
    )
    gone = sorted(set(ALLOWLIST) - set(flagged))
    assert not gone, (
        f"allowlist entries no longer flag (plan changed - prune them): {gone}"
    )
