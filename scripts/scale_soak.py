"""Scaling-slope soak (VERDICT r5 item 6): run every headline query at two
scale factors in one session and report the time ratio per query.

The reference publishes no wall-clock baselines, so the real performance
evidence is the SLOPE: with 10x the data, a query whose time ratio far
exceeds the data ratio is hiding a super-linear stage. Quadratic-by-
contract queries (all-pairs cosine/near-dup) are expected to exceed it and
are labeled.

``SOAK_SET`` selects the query list: ``gateheavy`` (the expensive
non-headline tier), ``sample:N`` (VERDICT r7 item 3: N deterministically
seeded queries drawn from the NEVER-SOAKED tail — names appearing in no
``SOAK_r*.json`` — because both live scale bugs round 7 found hid in
never-soaked queries; ``SOAK_SEED`` overrides the default seed 8), or
unset for the headline set. Streaming queries are excluded from sampling
(their returned frame is a memory-sink scan, so a two-SF wall ratio
would time the sink, not the plan).

Usage: python scripts/scale_soak.py [small_dir] [big_dir] [out_json]
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plan_fp import plan_fingerprint  # noqa: E402

#: timed runs per side, alternating small and big; a row records each
#: side's median (one run per side read a same-directory slope anywhere
#: from 0.69 to 1.42)
SOAK_REPS = 3

# O(n^2)-by-contract queries: slope >> data ratio is the documented design.
QUADRATIC = {
    "q46_cosine_top_pairs",
    "q60_embedding_near_dup",
    "q48_knn_brute_force",       # corpus x fixed query set — linear, but big const
    "q246_hard_negative_mining",
    "q482_label_propagation",    # exact-kNN build is n^2 by contract
    # round 9 (sampled-tier adjudications, notes in SOAK_r09):
    "q42_ngram_jaccard",         # exact inverted-index form, pairs-quadratic
    "q165_containment_dedup",    # same shingle self-join shape as q42
    "q345_matryoshka_eval",      # query-set x corpus exact dots at two widths
    "q283_dbscan_core_points",   # fixed-domain density -> in-cell pairs x100
    "q455_linkage_threshold_curve",  # upstream q425 blocking pairs
}

# The most expensive NON-headline queries by full-gate cost (VERDICT r6
# item 5: the gate-heavy operators had never run at sf1), plus the four
# the verdict named explicitly (q463 DTW, q476 view-maintenance theorem,
# q451 GROUPING SETS fusion, q470 k-center). Selected from the round-7
# gate log: every non-headline query costing >= ~3 s at sf0.01.
# q137_stream_stream_join is excluded: its returned frame is a memory-
# sink scan, so a two-SF wall-clock ratio would time the sink, not the
# streaming plan (covered in test_streaming instead).
GATE_HEAVY = [
    "q185_clamped_balance",
    "q482_label_propagation",
    "q441_mv_selection",
    "q414_kcore_onion",
    "q346_dag_slack",
    "q470_kcenter_coreset",
    "q474_markov_attribution",
    "q413_hits_scores",
    "q411_labelprop_components",
    "q438_selinger_join_order",
    "q318_dag_critical_path",
    "q433_mmr_rerank",
    "q430_sql_recursive_cte",
    "q463_dtw_distance",
    "q476_join_view_maintenance",
    "q451_mv_selection_fused",
    # tier 2 (round 7, same selection rule; streaming queries still
    # excluded — their returned frames are memory-sink scans)
    "q53_iterative_ratings",
    "q437_markov_ltv",
    "q428_weighted_intervals",
    "q412_dedup_clusters_star",
    "q217_asof_nearest",
    "q149_bloom_block_skipping",
    "q450_corpus_release_manifest",
    "q274_sequential_ab_looks",
    "q440_cluster_safe_split",
    "q287_behavior_edit_distance",
]


def main() -> None:
    from bench import HEADLINE
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.session import get_spark

    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else ".scratch/sf1"
    out = sys.argv[3] if len(sys.argv) > 3 else ".scratch/scale_soak.json"
    spark = get_spark(app_name="scale-soak")
    queries = all_queries()

    def run(name: str, sf_dir: str) -> None:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        run(name, sf_dir)
        return round(time.perf_counter() - t0, 3)

    # resume: queries already in the out file are skipped, and a
    # SOAK_SKIP env list marks queries recorded by hand (e.g. a designed-
    # slow control whose big-sf run exceeds the soak budget).
    results = {}
    if os.path.exists(out):
        with open(out) as f:
            results = json.load(f)
    skip = set(os.environ.get("SOAK_SKIP", "").split(",")) - {""}
    soak_set = os.environ.get("SOAK_SET", "")
    if soak_set == "gateheavy":
        names = GATE_HEAVY
    elif soak_set.startswith("names:"):
        names = soak_set.split(":", 1)[1].split(",")
        unknown = [q for q in names if q not in queries]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
    elif soak_set.startswith("sample:"):
        n = int(soak_set.split(":", 1)[1])
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        soaked: set[str] = set()
        for f in glob.glob(os.path.join(repo, "SOAK_r*.json")):
            art = json.load(open(f))
            soaked |= set(art.get("queries", art if isinstance(art, dict) else {}))
            # recheck sections nest as {method, queries: {...}} — union
            # the inner query names, not the section's own keys (round-9
            # ADVICE: the old set(section) added the literals "method"/
            # "queries" and left every rechecked query sample-eligible)
            for section in ("plan_change_recheck", "fixture_change_recheck"):
                sec = art.get(section) or {}
                soaked |= set(sec.get("queries") or {})
        never = sorted(
            q
            for q in queries
            if q not in soaked
            and q not in set(HEADLINE)
            and q not in set(GATE_HEAVY)
            and "stream" not in q
        )
        seed = int(os.environ.get("SOAK_SEED", "8"))
        names = sorted(random.Random(seed).sample(never, min(n, len(never))))
        print(
            json.dumps({"sample_seed": seed, "never_soaked_pool": len(never)}),
            flush=True,
        )
    else:
        names = HEADLINE
    names = [q for q in names if q not in results and q not in skip]
    if names:
        # one untimed run absorbs the session's JVM warm-up, as bench.py
        # does; a failure here is recorded by the query's own row below
        with contextlib.suppress(Exception):
            run(names[0], small)
    for name in names:
        try:
            # warm both sides before timing either, so each timed run
            # follows the same earlier runs of the query; warming one side
            # at a time times the big side warmer than the small one and
            # reads the slope low (0.73-0.95 with the same sf0.1 directory
            # on both sides, 4 cores)
            spark.catalog.clearCache()
            run(name, small)
            run(name, big)
            smalls, bigs = [], []
            for _ in range(SOAK_REPS):
                smalls.append(timed(name, small))
                bigs.append(timed(name, big))
            t_small, t_big = statistics.median(smalls), statistics.median(bigs)
            results[name] = {
                "small_s": t_small,
                "big_s": t_big,
                "slope": round(t_big / t_small, 2),
                "quadratic_by_contract": name in QUADRATIC,
                # ties the row to the plan it measured (VERDICT r8 item
                # 3: q287's stale r7 row hid a 46 s regression);
                # test_soak_artifact.py recomputes and flags divergence
                "plan_fp": plan_fingerprint(queries[name](spark, small)),
            }
            print(json.dumps({name: results[name]}), flush=True)
        except Exception as exc:  # keep the soak going; report at the end
            results[name] = {"error": str(exc)[:300]}
            print(json.dumps({name: results[name]}), flush=True)
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
