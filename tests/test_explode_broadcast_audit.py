"""Recurring static audit for the live-bug-#9 signature (round 9): a
BroadcastExchange whose build subtree is a raw Generate fan-out with no
aggregate/limit in between.

Why a standing test: Catalyst sizes a scan by FILE bytes and a Generate
does not inflate the estimate, so an exploded side whose true row count
is 100-1000x the file's sneaks under autoBroadcastJoinThreshold. q165
demonstrated the failure live at sf1 (a (0+1)/1 stage pinned >12 min:
the whole shingle-pair production serialized onto the 1-partition
scan streaming against a 7.5M-row broadcast); the same signature was
then found statically in q42 (via jaccard_pairs), q43/q45's band joins,
q236's positional join, and q279/q283's grid joins — all now pinned
shuffle-hash (oracles unchanged, hash-verified by the gate).

The detector runs over every registered query's executed plan from
the shared registry sweep (``registry_plans``, sf0.01);
any flag NOT in the adjudicated allowlist below fails, so a new
estimator-blind broadcast of an exploded corpus side cannot land
silently.
"""

from __future__ import annotations


#: query -> why its explode-under-broadcast is deliberate/bounded
ALLOWED = {
    # STATED CONTRACT (docstring): the dictionary-encoded prefix index is
    # groups x a prefix sliver; a tok shuffle on this ~31-token corpus is
    # the q287 key-cardinality trap. At-scale form = salted tok join.
    "q154_setsim_prefix_join": "dictionary-encoded prefix index, stated contract",
    # Bounded by the cents value domain: blocks = distinct totalprice
    # cents / 1024, a fixed price-range spine, not corpus rows.
    "q306_quantile_normalize": "value-domain-bounded block spine",
    # The exploded side is the codebook (vec_id < 8): 8 x 64 rows.
    "q309_pq_assign": "codebook-bounded (vec_id < 8)",
    # The exploded side is the K centroid seeds (vec_id < 6) x dims.
    "q402_elbow_wcss": "centroid-seed-bounded (vec_id < K)",
    # Global MIN/MAX date spine: calendar-bounded, one row per day.
    "q91_gapfill_interpolate": "calendar-bounded date spine",
    # Interval dim side by design (o_orderkey % 500) with a small
    # bounded week fan-out per interval; the probe is the fact side.
    "q65_range_join": "interval dim side, bounded week fan-out",
}


def test_flags_raw_generate_under_broadcast():
    from audit_explode_broadcast import flags_in_plan

    plan = """BroadcastExchange HashedRelationBroadcastMode(List(input[0]))
+- Generate explode(arr#12), [k#3L], false
   +- *(1) ColumnarToRow
      +- FileScan parquet"""
    assert len(flags_in_plan(plan)) == 1


def test_bounding_ancestor_shields_generate():
    from audit_explode_broadcast import flags_in_plan

    plan = """BroadcastExchange HashedRelationBroadcastMode(List(input[0]))
+- *(2) HashAggregate(keys=[k#3L], functions=[count(1)])
   +- Generate explode(arr#12), [k#3L], false
      +- *(1) ColumnarToRow"""
    assert flags_in_plan(plan) == []


def test_sibling_branch_aggregate_does_not_shield():
    """Round-10 ADVICE regression: the old flat scan broke at the FIRST
    bounding op anywhere in the subtree, so an aggregate in one join
    branch shielded a raw Generate in its SIBLING branch — a false
    negative in the recurring gate. Only an ANCESTOR bounds a path."""
    from audit_explode_broadcast import flags_in_plan

    plan = """BroadcastExchange HashedRelationBroadcastMode(List(input[0]))
+- *(3) BroadcastHashJoin [k#3L], [k#9L], Inner, BuildLeft
   :- *(1) HashAggregate(keys=[k#3L], functions=[count(1)])
   :  +- Exchange hashpartitioning(k#3L, 32)
   :     +- *(0) LocalTableScan
   +- Generate explode(arr#12), [k#9L], false
      +- *(2) ColumnarToRow"""
    hits = flags_in_plan(plan)
    assert len(hits) == 1 and "Generate" in hits[0]


def test_aggregate_branch_first_generate_deeper_sibling():
    """Same class, deeper: the Generate sits several levels down the
    unbounded sibling while the bounded branch comes first."""
    from audit_explode_broadcast import flags_in_plan

    plan = """BroadcastExchange HashedRelationBroadcastMode(List(input[0]))
+- *(4) Project [k#9L]
   +- *(4) SortMergeJoin [k#3L], [k#9L], Inner
      :- *(1) Sort [k#3L ASC]
      :  +- *(1) HashAggregate(keys=[k#3L], functions=[sum(v#4L)])
      :     +- Exchange hashpartitioning(k#3L, 32)
      +- *(3) Sort [k#9L ASC]
         +- Generate explode(arr#12), [k#9L], false
            +- *(2) ColumnarToRow"""
    hits = flags_in_plan(plan)
    assert len(hits) == 1 and "Generate" in hits[0]


def test_no_unadjudicated_explode_broadcast(registry_plans):
    from audit_explode_broadcast import flags_in_plan

    flagged = {
        name: hits
        for name, p in registry_plans.items()
        if (hits := flags_in_plan(p.default))
    }
    new = {k: v for k, v in flagged.items() if k not in ALLOWED}
    assert not new, (
        "unadjudicated explode-under-broadcast (the live-bug-#9 "
        f"signature) in: {new} - pin the join shuffle-hash or add an "
        "allowlist entry with the boundedness reason"
    )
    gone = sorted(set(ALLOWED) - set(flagged))
    assert not gone, (
        f"allowlist entries no longer flagged (stale): {gone} - prune them"
    )
