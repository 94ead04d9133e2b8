"""Recurring static audit for REPEATED FACT SCANS (round 11 — the q422
class; scripts/audit_fact_rescan.py is the detector, run over the
shared registry sweep).

When several consumers derive from one shared rollup and nothing
materializes it, Spark re-executes the rollup — and the FACT SCAN under
it — once per consumer. At 100 TB the fact scan IS the linear cost, so
paying it k times multiplies the job by k. The r11 sweep found 38
queries scanning one fact table >= 5 times; 30 were the shared-rollup
defect and were fixed with `localCheckpoint(eager=False)` on the
BOUNDED intermediate (never the corpus), each hash-certified against an
unchanged oracle. The loudest catch: q451's docstring claimed "one
GROUPING SETS scan instead of seven" while its executed plan re-scanned
orders 26x through temp-view re-expansion.

The 8 that remain are adjudicated by-design below. Any query acquiring
a NEW >= {THRESHOLD}-scan plan fails here until fixed or adjudicated.
The 3-4-scan band is NOT pinned: two pruned passes (e.g. a self-join's
two legs) are often the cheapest correct plan, and per-column
single-column scans cost the same bytes as one wide scan.

Honest caveat (same-session A/B, r11): printed scan heads are an UPPER
BOUND — AQE exchange reuse often dedupes identical subtrees at runtime,
and the conversions measured wall-NEUTRAL at sf0.1 and sf1. They stand
because the checkpoint turns reuse-dependent single execution into a
structural guarantee (reuse silently stops at any projection
divergence), not because of a measured speedup; see the audit script's
MEASUREMENT CAVEAT.
"""

from __future__ import annotations


THRESHOLD = 5

#: query -> why its >= THRESHOLD fact scans are the intended plan
ALLOWED = {
    "q441_mv_selection": (
        "shared-text SQL corpus (the TEXTBOOK seven-scan lattice form, "
        "same string both engines): the unrolled greedy CTEs re-expand "
        "the per-subset distinct counts and st0's base-cost subquery to "
        "728 scan heads; q451 runs the IDENTICAL greedy SQL over a "
        "checkpointed GROUPING SETS lattice (0 repeated scans) and "
        "shares q441's oracle — the production path is built and "
        "hash-certified, the textbook form stays for the contrast"
    ),
    "q438_selinger_join_order": (
        "shared-text SQL corpus: the 24-permutation plan enumeration "
        "re-expands the 10-scalar stats CTE per plan row (42 heads); "
        "the stats are catalog statistics a real optimizer reads from "
        "ANALYZE output, not per-query scans — the q451 checkpoint "
        "pattern is the demonstrated fix when this ever leaves the "
        "shared-text corpus"
    ),
    "q154_setsim_prefix_join": (
        "prefix-filter join: the inverted index, probe legs, "
        "group-dedup, and verification each read a DIFFERENT pruned "
        "projection of the token sets (16 heads) — materializing the "
        "exploded token table would dwarf the column-pruned re-scans; "
        "plan shape extensively adjudicated r5-r8 (bench + spread "
        "retirement)"
    ),
    "q143_column_profiler": (
        "per-column single-column aggregates: 6 heads each reading ONE "
        "column — total bytes equal one full-width scan, and Catalyst "
        "runs the single-row aggregates in parallel"
    ),
    "q273_codec_advisor": (
        "per-audited-column passes by contract (3 columns x [streaming "
        "repeat kernel + NDV aggregate]): each head prunes to its own "
        "column; production amortizes all columns into one pass, stated "
        "in the docstring"
    ),
    "q344_lsh_s_curve": (
        "composes q42's exact-Jaccard pair scan with q43's MinHash "
        "candidates — the 6 heads are the two lineages' own inverted-"
        "index self-join legs, each column-pruned; the truth side is "
        "sampled at corpus scale (docstring contract)"
    ),
    "q476_join_view_maintenance": (
        "delta-algebra terms (dV = dA*B + A*dB + dA*dB vs full "
        "recompute) re-read PRUNED SLICES of orders/customer; "
        "checkpointing A would materialize the corpus and defeat the "
        "|delta|-sized-maintenance point the query exists to prove"
    ),
    "q127_mad_outliers": (
        "structural minimum for composed exact medians: median "
        "histogram + located-bin rank, deviation histogram + rank, "
        "outlier count = 5 passes; the histograms themselves are "
        "checkpointed (see _grouped_kth), nothing re-executes"
    ),
}


def test_detector_on_synthetic_plans():
    from audit_fact_rescan import fact_scan_counts, flags_for

    plan = """*(3) HashAggregate
+- FileScan parquet [a] ... InMemoryFileIndex(1 paths)[file:/x/events.parquet], Read...
   +- FileScan parquet [b] ... InMemoryFileIndex(1 paths)[file:/x/events.parquet], Read...
      +- FileScan parquet [c] ... InMemoryFileIndex(1 paths)[file:/x/region.parquet], Read..."""
    assert fact_scan_counts(plan) == {"events": 2}
    assert flags_for(plan) == {}  # 2 < audit threshold
    five = "\n".join(
        f"+- FileScan parquet [x{i}] ... [file:/x/lineitem.parquet], R" for i in range(5)
    )
    assert flags_for(five) == {"lineitem": 5}


def test_no_unadjudicated_fact_rescans(registry_plans):
    from audit_fact_rescan import fact_scan_counts

    flagged = {}
    for name, p in registry_plans.items():
        hits = {
            t: c for t, c in fact_scan_counts(p.default).items() if c >= THRESHOLD
        }
        if hits:
            flagged[name] = hits
    new = {k: v for k, v in flagged.items() if k not in ALLOWED}
    assert not new, (
        "unadjudicated repeated fact scans (each is a full corpus pass "
        f"at scale): {new} - localCheckpoint the shared BOUNDED rollup "
        "(the q422/q451 pattern), or add an allowlist entry with the "
        "design reason"
    )
    gone = sorted(set(ALLOWED) - set(flagged))
    assert not gone, (
        f"allowlist entries no longer flagged (stale): {gone} - prune them"
    )
