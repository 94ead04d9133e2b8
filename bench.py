"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall-clock seconds.

Timing includes plan build + execution; results are materialized with a
cheap ``count()`` of the final DataFrame (the driver-side collect cost is
not what we're measuring).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family (SURVEY.md §2 + north-star ops).
HEADLINE = [
    "q01_pricing_summary",      # scan + agg (TPC-H Q1 shape)
    "q02_filter_pushdown",      # predicate pushdown scan
    "q07_union_stack",          # union-all matrix
    "q12_inner_join_revenue",   # shuffle join + agg
    "q13_first_match_join",     # dedup-then-join
    "q17_asof_join",            # as-of window join
    "q22_mode_per_group",       # count + row_number mode
    "q26_rollup",               # grouping sets
    "q31_running_total",        # cumulative window
    "q37_session_window",       # gap sessionization
    "q41_exact_dedup",          # hash dedup
    "q65_range_join",           # bin-bucketed interval join
    "q43_minhash_lsh",          # MinHash + LSH banding
    "q45_simhash_pairs",        # SimHash band join
    "q46_cosine_top_pairs",     # blocked exact all-pairs cosine
    "q47_ann_sign_lsh",         # bucketed ANN (shuffle plan)
    "q63_ann_ivf",              # IVF cell-probe ANN
    "q48_knn_brute_force",      # broadcast kNN baseline
    "q49_lang_id",              # text classification
    "q51_token_stats",          # token counting
    "q60_embedding_near_dup",   # embedding near-dup (all-pairs baseline)
    "q61_jacobi_exact",         # exact iterative solver
    "q62_dedup_clusters",       # near-dup connected components
    "q115_skew_kernel_salted",  # hot-key pandas kernel, salted two-phase
    "q116_skew_kernel_unsalted",  # hot-key pandas kernel, single-task control
    "q87_skew_join_salted",     # hot-key join, salted (operators/skew.py)
    "q88_skew_join_unsalted",   # hot-key join, single-reducer control
    "q105_region_revenue",      # TPC-H Q5 shape: 6-way star join
    "q93_exact_quantile_select",  # exact order statistics, no global sort
    "q74_sequence_packing",     # range-partitioned two-pass cumsum
    "q100_row_ids",             # contiguous ids, no SinglePartition exchange
    "q101_scd2_merge",          # window-free SCD2 full-outer merge
    "q107_grouped_median",      # grouped histogram-select exact quantiles
    "q113_possession_sessionize",  # possession state machine as windows (W2/W3)
    "q117_pagerank_distributed",  # iterative rank, localCheckpoint sweeps
    "q128_sliding_distinct",    # dedup-then-fan-out rolling distinct
    "q131_doc_chunks",          # zero-shuffle chunk explode
    "q133_zorder_skipping",     # Morton layout + block-stats pruning
    "q135_bfs_hops",            # frontier-expansion iterative BFS
    "q141_pca_power_iteration", # gram-matrix shuffle + distributed sweeps
    "q145_audio_pcm_features",  # binary pack/decode round trip
    "q147_interval_merge",      # gaps-and-islands window chain
    "q154_setsim_prefix_join",  # PPJoin prefix-filtered set-similarity join
    "q164_kmeans_lloyd",        # broadcast-codebook Lloyd assignment + update
    "q170_bigram_surprise",     # two vocab joins over the token stream
    "q172_bootstrap_variance",  # B=32 replicate explode + map-side combine
    "q174_asof_forward",        # forward as-of union+window
    "q176_int8_quantize",       # two-pass fixed-point quantize + error audit
    "q220_volume_shipping",     # TPC-H Q7: disjunctive nation-pair predicate
    "q225_waiting_suppliers",   # TPC-H Q21: exists/not-exists decorrelation
    "q228_segment_dedup",       # 10-word-window corpus dedup + reassembly
    "q229_bpe_merge_step",      # BPE pair count + select + greedy apply
    "q232_sketch_rollup_merge", # daily->weekly KMV sketch merge
    "q246_hard_negative_mining", # blocked label-aware GEMM tiles
    "q250_maxsim_late_interaction",  # broadcast-query einsum MaxSim kernel
    "q252_pit_features",        # multi-horizon RANGE-frame features
    "q279_spatial_radius_join", # grid-cell equi-join spatial self-join
    "q300_weighted_sssp",       # Bellman-Ford min-merge sweeps
    "q306_quantile_normalize",  # rank-block equi-join lookup (no BETWEEN loop)
    "q309_pq_assign",           # PQ encode: broadcast codebook + argmin window
    "q313_shapley_attribution", # bitmask rollup + literal subset lattice
    "q410_star_components",     # large/small-star CC on a 256-diameter path
    "q422_hodges_lehmann",      # distinct-value-compressed Walsh-pair median
    "q429_harmonic_centrality", # 32-pivot multi-source BFS + integer 1/d sums
    "q459_spearman_rank_corr",  # two per-group rank windows over lineitem
    "q462_allen_relations",     # interval-pair self-join + 13-way classify
]


def compact_summary_line(
    total: float,
    sf: float,
    reps: int,
    warm: int,
    timings: dict[str, float],
    controls: dict,
) -> str:
    """The FINAL stdout line: one compact JSON object that must survive the
    driver's 2000-char output tail INTACT, per-query medians included
    (r13, VERDICT r12 item 2 — the full JSON above falls outside the tail,
    so PERF_r12 had per_query={} and round-over-round comparison ran
    blind). 2-decimal seconds + compact separators put the 66-query map at
    ~1.87 KB (worst case, every median 5 chars: ~1.95 KB). Tiered fallback
    keeps the one-line contract even if a pathological run would overflow:
    drop reps/warm/controls first, the queries map only as the last resort
    (never the metric/value/unit/sf contract fields)."""
    qcompact = {n: round(t, 2) for n, t in timings.items()}
    base = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": qcompact,
    }
    extras = {
        "reps": reps,
        "warm": warm,
        "n_queries": len(timings),
        "control_first": controls["control_first"],
        "control_last": controls["control_last"],
        "control_cpu_first": controls["control_cpu_first"],
        "control_cpu_last": controls["control_cpu_last"],
        "control_shuffle_first": controls["control_shuffle_first"],
        "control_shuffle_last": controls["control_shuffle_last"],
    }
    budget = 1980  # 2000-char driver tail minus newline slack
    candidates = [
        {**base, **extras},
        {**base, "reps": reps, "warm": warm, "n_queries": len(timings)},
        base,
        {k: v for k, v in {**base, **extras}.items() if k != "queries"},
    ]
    for cand in candidates:
        line = json.dumps(cand, separators=(",", ":"))
        if len(line) <= budget:
            return line
    return line  # unreachable: the no-queries tier is always small


def _drop_persistent_rdds(spark) -> None:
    """Blocking-unpersist every RDD still holding storage blocks.

    ``clearCache()`` only drops Dataset cache entries; the iterative
    queries (q62/q117/q135/q141/q300/q410/q429) leave ``localCheckpoint``
    RDD blocks behind until Python GC + ContextCleaner get around to them
    asynchronously, and VERDICT r6 traced q154's official 2.3x spread to
    exactly that storage pressure (the query is tight at +/-3% in a clean
    session). Blocking unpersist makes the isolation deterministic.
    Safe here: the previous query's lineage is dead, nothing recomputes.
    """
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def main() -> None:
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    spark = get_spark(app_name="hoops-edge-bench")

    # Session-drift control (VERDICT r6 item 4): a fixed trivial query
    # timed FIRST and LAST with the same rep protocol. Round-over-round
    # headline ratios can be normalized against control drift — r5->r6
    # common queries moved a uniform +11% with no code cause, and without
    # a control that is indistinguishable from a real regression.
    def control_df():
        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .selectExpr("count(*) AS n")
        )

    # Second, CPU-BOUND control (round 8): a local comparison against
    # BENCH_r07 saw common-query minima drift +23% while the scan-count
    # control moved only -7% — the scan control proxies I/O/footer-cache
    # session state, not CPU contention. This one is a fixed codegen
    # arithmetic fold over spark.range (no input data at all), so its
    # drift isolates the CPU term; normalize CPU-bound movers against
    # control_cpu_* and scan-shaped ones against control_*.
    def control_cpu_df():
        return spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(pmod(id * 1103515245 + 12345, 1000)) AS s"
        )

    # Third control (round 9): a fixed synthetic SHUFFLE. The r9 mover
    # adjudication found six untouched, differently-shaped queries all
    # +17-40% vs the r7 artifact while BOTH existing controls sat flat
    # — a shuffle/JVM-state drift axis neither the scan control nor the
    # in-core CPU fold observes. Exchange-heavy movers normalize
    # against control_shuffle_*.
    def control_shuffle_df():
        return (
            spark.range(0, 8_000_000, 1, 32)
            .selectExpr("pmod(id * 2654435761, 1048576) AS k", "id AS v")
            .repartition(32, "k")
            .groupBy("k")
            .agg({"v": "sum"})
        )

    queries = all_queries()
    # SPARK_GRAFT_BENCH_QUERIES=q01_...,q41_... runs a subset with the
    # identical protocol — for shape tests and quick iteration; the
    # default (and the driver's run) is the full HEADLINE list.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        # ADVICE r7: fail fast on unknown names — an all-misspelled subset
        # must not silently fall back to running all 485 queries.
        base = only.split(",")
        unknown = [n for n in base if n not in queries]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_QUERIES has unknown queries: {unknown}"
            )
        # dedupe, order-preserving (ADVICE r8): a name listed twice would
        # run warm+reps twice and silently overwrite its first timing
        names = list(dict.fromkeys(base))
    else:
        names = [n for n in HEADLINE if n in queries] or sorted(queries)

    def run(name: str) -> None:
        # noop sink: forces FULL evaluation of every column (a count() lets
        # Catalyst prune map-side expressions entirely and under-measures).
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warm up the JVM/parquet footer caches with one throwaway run.
    run(names[0])

    # n reps per query (VERDICT r2 item 6): the reported time is the
    # MEDIAN, and per-query [min, max] spread is recorded so session
    # contention noise is distinguishable from real plan regressions.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Per-query UNTIMED warm runs before the timed reps. q154's historical
    # spread had TWO fixable causes, fixed separately: (a) tiered-JIT
    # warm-up of its codegen stages — C2 needs a few executions, one warm
    # run is not always enough (1-warm spreads still hit 1.7x); (b)
    # cross-query storage pressure from the iterative queries' leftover
    # localCheckpoint RDD blocks, which is why the OFFICIAL r6 artifact
    # still showed 2.3x despite the warms — addressed by the blocking
    # _drop_persistent_rdds between queries. What remains is INTRINSIC:
    # isolated 6-rep measurement [2.39, 3.13] s (AQE off: same relative
    # spread) — GC of the per-row dictionary arrays, ~+/-15% around the
    # median with occasional worse outliers. The median-of-3 is the
    # honest estimator; the recorded [min, max] carries the noise.
    # r8 closed the remaining lever: two packed-int representations of
    # q154's token arrays were built and measured back-to-back against
    # the original (isolated 6-rep, sf0.1) — explode+hash-join id
    # translation 3.89 s median, broadcast-map translation 4.15 s
    # [4.02, 5.68], original 3.80 s [1.95, 5.56] in the same noisy
    # session. Both int variants RAISE the median (the rarity-ranked
    # dictionary build + per-doc translation cost more than the string
    # arrays' GC) without removing the spread, so the representation
    # stays as-is and the spread item is retired as intrinsic.
    warm = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "2")))

    def timed_reps(fn) -> list[float]:
        for _ in range(warm):
            fn()
        times = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return sorted(times)

    def noop_write(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    control_first = timed_reps(lambda: noop_write(control_df()))
    control_cpu_first = timed_reps(lambda: noop_write(control_cpu_df()))
    control_shuffle_first = timed_reps(lambda: noop_write(control_shuffle_df()))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        # isolate query families: drop cached blocks between queries, and
        # run the pandas-kernel skew pair BEFORE the join skew pair in
        # HEADLINE — VERDICT r3 traced a 3x inversion of q87/q88 to
        # cross-query contention, and r5 saw the same artifact invert
        # q115/q116 when they ran in the join pair's wake. (An explicit
        # System.gc() here made things WORSE — full-GC churn bleeds into
        # the next timed query on a 128 GiB heap.)
        spark.catalog.clearCache()
        # Release the previous query's DataFrame graphs, then blocking-
        # unpersist any RDD blocks still registered (localCheckpoint
        # blocks from the iterative queries). Python gc alone relies on
        # the ASYNC ContextCleaner and demonstrably wasn't enough — the
        # official r6 artifact still carried the q154 contention spread.
        # (Python gc, not System.gc — the JVM full-GC experiment regressed.)
        gc.collect()
        _drop_persistent_rdds(spark)
        times = timed_reps(lambda: run(name))
        timings[name] = round(times[len(times) // 2], 4)
        spread[name] = [round(times[0], 4), round(times[-1], 4)]

    gc.collect()
    _drop_persistent_rdds(spark)
    control_last = timed_reps(lambda: noop_write(control_df()))
    control_cpu_last = timed_reps(lambda: noop_write(control_cpu_df()))
    control_shuffle_last = timed_reps(lambda: noop_write(control_shuffle_df()))
    controls = {
        "control_first": round(control_first[len(control_first) // 2], 4),
        "control_last": round(control_last[len(control_last) // 2], 4),
        "control_first_spread": [round(control_first[0], 4), round(control_first[-1], 4)],
        "control_last_spread": [round(control_last[0], 4), round(control_last[-1], 4)],
        "control_cpu_first": round(control_cpu_first[len(control_cpu_first) // 2], 4),
        "control_cpu_last": round(control_cpu_last[len(control_cpu_last) // 2], 4),
        "control_shuffle_first": round(
            control_shuffle_first[len(control_shuffle_first) // 2], 4
        ),
        "control_shuffle_last": round(
            control_shuffle_last[len(control_shuffle_last) // 2], 4
        ),
    }
    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": reps,
                "warm": warm,
                "spread": spread,
                **controls,
            }
        )
    )
    # Compact summary LAST — after spark.stop(), so no shutdown warning can
    # land behind it: the driver keeps only the final 2000 chars of combined
    # output, and round 5's full JSON line outgrew that window
    # (BENCH_r05 recorded "parsed": null).
    #
    # r13 (VERDICT r12 item 2): the per-query medians must be IN the final
    # line — the full JSON printed above falls outside the 2000-char tail,
    # so PERF_r12 had per_query={} and every round-over-round comparison ran
    # blind. With 2-decimal seconds and compact separators the 66-query map
    # measures ~1.87 KB (worst case ~1.95 KB), inside the window. Tiered
    # fallback keeps the one-line contract even if a pathological run (every
    # median >= 100 s) would overflow: drop reps/warm/controls first, the
    # queries map only as the last resort (never the contract fields).
    spark.stop()
    print(
        compact_summary_line(total, sf, reps, warm, timings, controls),
        flush=True,
    )


if __name__ == "__main__":
    main()
