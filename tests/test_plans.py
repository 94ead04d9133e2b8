"""Physical-plan audits (SURVEY.md §4): the optimizations the reference
did by hand must appear in Catalyst's plans — pushdown, pruning, broadcast
— and Python must never leak into hot analytic paths."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _qs():
    from hoops_edge_database_etl_spark.queries import all_queries

    return all_queries()


def test_filter_pushdown_reaches_scan(spark):
    """Predicates must be pushed into the parquet scan (the reference read
    everything then filtered in Python, _io_helpers.py:109-114)."""
    plan = _executed(_qs()["q02_filter_pushdown"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed: {pushed!r}"


def test_column_pruning_in_read_schema(spark):
    """A 2-column projection must scan 2 columns, not the whole table."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.tables import load

    df = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _executed(df)
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dim_join_is_broadcast(spark):
    """Dimension enrichment must be a broadcast hash join — the Spark form
    of the reference's build-small-side dict joins (SURVEY §2.3)."""
    plan = _executed(_qs()["q11_dim_enrich_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_on_flagship(spark):
    # AQE wraps the plan in AdaptiveSparkPlan whose string form hides
    # codegen stages until runtime — disable it for this static inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _executed(_qs()["q01_pricing_summary"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen stages render as "*(N) Operator" prefixes in toString
    assert "*(1)" in plan and "HashAggregate" in plan


#: queries allowed to run Python: the numpy-GEMM similarity kernels
#: (vectorized by design) and the driver-loop solver
_PYTHON_ALLOWED = {
    "q46_cosine_top_pairs",
    "q47_ann_sign_lsh",
    "q53_iterative_ratings",
    "q60_embedding_near_dup",  # blocked numpy tile scan (same kernel as q46)
    "q63_ann_ivf",  # IVF cell-probe: broadcast codebook + per-cell GEMM
    "q48_knn_brute_force",  # broadcast query matrix × corpus-stream GEMM
    # §2.9 sanctions grouped-map state machines & kernels explicitly:
    "q115_skew_kernel_salted",  # pandas-kernel agg: the salted two-phase form
    "q116_skew_kernel_unsalted",  # …and its single-task control
    "q119_pareto_frontier",  # local-skyline mapInPandas + bounded merge
    "q142_cogroup_reconcile",  # the cogroup applyInPandas surface itself
    "q145_audio_pcm_features",  # binary PCM pack/decode round trip (multimodal)
    "q146_video_frame_sample",  # binary frame-slice round trip (multimodal)
    "q246_hard_negative_mining",  # blocked numpy tile GEMM (q46's kernel + labels)
    "q416_activity_selection",  # greedy-EFT chain: sequential state per user (§2.9)
    "q428_weighted_intervals",  # weighted-interval DP: sequential state per user (§2.9)
    "q433_mmr_rerank",  # greedy MMR chain: sequential state per query group (§2.9)
    "q435_python_udtf",  # the §2.9 UDTF surface itself (BatchEvalPythonUDTF)
    "q251_ann_recall_eval",  # composes q47/q48 lineages (their kernels, sanctioned above)
    "q250_maxsim_late_interaction",  # broadcast-query einsum kernel (q48's shape)
    "q480_pcm_silence_runs",  # binary PCM pack + frame-energy decode (q145's
    # multimodal round trip; the VAD segmentation itself is declarative)
    "q330_lru_stack_distance",  # per-user LRU replay state machine (its oracle
    # is the declarative Mattson stack-distance formulation — the Python is
    # the point: an imperative twin certified by a theorem)
    "q141_pca_power_iteration",  # r12: per-partition numpy QᵀQ Gram blocks
    # (guide §4.2) replacing the posexplode self-join — the only exchange
    # now carries dim² partial cells per partition; oracle unchanged
    "q408_kendall_tau",  # r10: weighted-mergesort dominance count per range
    # partition (numpy mapInPandas) — the O(n log n) Knight form replacing
    # the O(n²) pair join (sf1 185.7 s → 3.3 s); oracle unchanged
    "q273_codec_advisor",  # r10 global-window audit: the per-partition
    # adjacent-repeat kernel (numpy mapInPandas over the range-partitioned
    # storage order) replacing three corpus-wide single-partition LAGs;
    # oracle unchanged
}


def test_no_python_in_analytic_plans(registry_plans):
    """Every oracle-bearing query must stay JVM-side: no row-at-a-time
    BatchEvalPython anywhere, and no pandas stages except the sanctioned
    ones (§2.9's policy)."""
    from hoops_edge_database_etl_spark.queries import all_oracles

    offenders = []
    for name in all_oracles():
        if name in _PYTHON_ALLOWED:
            continue
        plan = registry_plans[name].default
        if (
            "BatchEvalPython" in plan
            or "MapInPandas" in plan
            or "FlatMapGroupsInPandas" in plan
            or "FlatMapCoGroupsInPandas" in plan
        ):
            offenders.append(name)
    assert not offenders, f"Python leaked into: {offenders}"


def test_possession_scan_is_one_jvm_window_pass(spark):
    """enrich_plays sessionizes possessions without Python: window operators
    over exactly one shuffle on game_id."""
    from hoops_edge_database_etl_spark.operators.pbp import enrich_plays
    from tests.test_pbp import SCHEMA, _plays

    plan = _executed(enrich_plays(spark.createDataFrame(_plays(), SCHEMA)))
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
    assert plan.count("Exchange hashpartitioning(game_id") == 1, plan


def test_driver_built_frames_are_local_scans(spark):
    """ratings_per_date and q61 ship their driver-side results as Arrow:
    a LocalTableScan, not a pickled Python RDD (ExistingRDD)."""
    import datetime

    from hoops_edge_database_etl_spark.operators.ratings import ratings_per_date

    d = datetime.date
    games = spark.createDataFrame(
        [(d(2024, 1, 1), 1, 2, 110.0, True), (d(2024, 1, 1), 2, 1, 95.0, False)],
        "game_date date, team_id long, opp_id long, off_eff double, is_home boolean",
    )
    frames = {
        "ratings_per_date": ratings_per_date(spark, games, rating_dates=[d(2024, 1, 2)]),
        "q61": _qs()["q61_jacobi_exact"](spark, SF_DIR),
    }
    for name, df in frames.items():
        plan = _executed(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)


def test_first_last_single_shuffle(spark):
    """q40's two row_numbers + groupBy share one partitioning — exactly one
    exchange in the plan (the stated design invariant)."""
    plan = _executed(_qs()["q40_first_last_value"](spark, SF_DIR))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    """A filter on a partition column must prune at plan time (the manual
    season=YYYY/ prefix listing, _io_helpers.py:40-47, for free)."""
    from hoops_edge_database_etl_spark.sources.io import write_partitioned

    path = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i, str(2020 + i % 3)) for i in range(30)], "id int, season string"
    )
    write_partitioned(df, path, ["season"])
    scan = spark.read.parquet(path).filter("season = '2021'")
    assert scan.count() == 10
    plan = _executed(scan)
    assert "partitions read" not in plan.lower() or "1" in plan
    # the physical scan must carry the partition filter
    assert "PartitionFilters" in plan and "season" in plan.split("PartitionFilters", 1)[1][:200]


def test_ann_shuffle_plan_no_driver_collect(spark):
    """q46/q47 default plans must be the distributed shape (VERDICT r1):
    an Exchange on the bucket/block key feeding FlatMapGroupsInPandas, and
    ZERO Spark jobs while building the operator over an already-loaded
    DataFrame (a driver-side toPandas() in the lineage runs one eagerly;
    the only allowed jobs are load()'s own parquet footer reads)."""
    from hoops_edge_database_etl_spark.queries.similarity import (
        ann_sign_lsh,
        cosine_top_pairs,
    )
    from hoops_edge_database_etl_spark.tables import load

    e = load(spark, SF_DIR, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("ann-build-audit", "lazy-build check")
    try:
        df47 = ann_sign_lsh(spark, e, strategy="shuffle")
        df46 = cosine_top_pairs(spark, e, strategy="blocked")
        jobs = list(sc.statusTracker().getJobIdsForGroup("ann-build-audit"))
    finally:
        sc.setJobGroup("tests", "tests")
    assert jobs == [], f"operator construction ran driver-side jobs: {jobs}"
    p47 = _executed(df47)
    assert "FlatMapGroupsInPandas" in p47
    assert "hashpartitioning(bucket" in p47, "missing bucket-key Exchange"
    p46 = _executed(df46)
    assert "FlatMapGroupsInPandas" in p46
    assert "hashpartitioning(bi" in p46, "missing block-pair Exchange"
    # the registered queries must route through these default strategies
    p47q = _executed(_qs()["q47_ann_sign_lsh"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p47q and "hashpartitioning(bucket" in p47q
    p46q = _executed(_qs()["q46_cosine_top_pairs"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p46q and "hashpartitioning(bi" in p46q
    # q60 (threshold near-dup) must use the same blocked tile plan
    p60q = _executed(_qs()["q60_embedding_near_dup"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p60q and "hashpartitioning(bi" in p60q
    # q63 (IVF): assignment pass feeding one Exchange on the cell key
    p63q = _executed(_qs()["q63_ann_ivf"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p63q and "hashpartitioning(cell" in p63q


def test_training_corpus_single_shuffle(spark):
    """q70 (dedup → quality → split → token budget) must fuse into ONE
    Exchange — the md5-content-hash window; every other stage is narrow."""
    plan = _executed(_qs()["q70_training_corpus"](spark, SF_DIR))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected 1 shuffle, got {n}"


def test_range_join_is_hash_join_not_nested_loop(spark):
    """q65's containment predicate must execute as an equi hash join on
    the bin key — never BroadcastNestedLoopJoin / CartesianProduct (what
    a conditional-only join would plan)."""
    plan = _executed(_qs()["q65_range_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__rj_bin" in plan


def test_sequence_packing_no_global_window(spark):
    """q74's cumsum must be the two-pass range plan (VERDICT r2 item 2):
    no SinglePartition exchange anywhere — the global-order window that
    would put the whole corpus's token stream on one reducer — and the
    per-range window keyed by (partition id)."""
    plan = _executed(_qs()["q74_sequence_packing"](spark, SF_DIR))
    assert "SinglePartition" not in plan, "global-order window leaked back in"
    assert "RangePartitioning" in plan or "rangepartitioning" in plan
    assert "__pid" in plan


def test_stratified_sample_no_single_reducer_strata(spark):
    """q73 must rank within (lang, input partition) first (VERDICT r2 item
    3): the first window's exchange carries the partition id so a stratum
    spreads over all reducers; only the ≤25·n_partitions candidate merge
    may key on lang alone."""
    plan = _executed(_qs()["q73_stratified_sample"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan and "__tk_pid" in plan


def test_no_cartesian_product_anywhere(registry_plans):
    """Global antipattern ban: no query may plan a CartesianProduct — a
    non-broadcast cross join is never intentional here (1-row scalar
    broadcasts plan as BroadcastNestedLoopJoin, which is allowed).
    Streaming queries are skipped: their returned frame is a memory-sink
    scan, not the streaming plan (covered in test_streaming).

    The audit reads the AQE-off plans (ADVICE r6): with AQE on, the
    inspected ``executedPlan`` string depends on which stages have already
    materialized, and the q455 CartesianProduct (commit b1efced) was
    caught only on a later run because of exactly that nondeterminism.
    With AQE off the static plan is deterministic — strictly harder to
    pass, since no runtime broadcast conversion can mask a cartesian."""
    offenders = [
        name
        for name, p in registry_plans.items()
        if "streaming" not in name and "CartesianProduct" in p.aqe_off
    ]
    assert not offenders, f"CartesianProduct planned in: {offenders}"


def test_row_ids_no_global_window(spark):
    """q100's id assignment must be the two-pass range plan — no
    SinglePartition exchange, per-range numbering keyed by partition id."""
    plan = _executed(_qs()["q100_row_ids"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "__ri_pid" in plan


def test_doc_chunks_zero_shuffle(spark):
    """q131 chunking is one narrow map stage — no Exchange at all."""
    plan = _executed(_qs()["q131_doc_chunks"](spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_label_prop_knn_stream_side_respread(spark):
    """q482's kNN pair fan-out is a non-equi self-join that plans as
    BroadcastNestedLoopJoin; BNLJ parallelism equals the STREAM side's
    partition count, and the embeddings scan arrives in 1-2 partitions —
    at sf1 that serialized 2.5e9 pair-dots onto two cores (round-7 soak
    caught it live). The fix is an explicit repartition feeding the join;
    this pins it: an Exchange must appear below the BNLJ."""
    from pyspark.sql import functions as FF

    from hoops_edge_database_etl_spark.queries.similarity import (
        _KC_Q,
        _lp_knn_pairs,
    )
    from hoops_edge_database_etl_spark.tables import load

    qe = load(spark, SF_DIR, "embeddings").select(
        "vec_id",
        FF.transform(
            "embedding",
            lambda x: FF.floor(x.cast("double") * _KC_Q + 0.5).cast("long"),
        ).alias("q"),
    )
    plan = _executed(_lp_knn_pairs(qe))
    assert "BroadcastNestedLoopJoin" in plan  # expected join shape
    # ADVICE r7: a bare "Exchange hashpartitioning(src" check is vacuous —
    # with the repartition removed, the row_number window inserts its own
    # src-exchange ABOVE the join (ENSURE_REQUIREMENTS) and the substring
    # still matches. The re-spread must be (a) in the subtree BELOW the
    # BNLJ (after its line in the tree string) and (b) the explicit
    # REPARTITION_BY_NUM, not an optimizer-inserted requirement.
    import re

    below = plan[plan.index("BroadcastNestedLoopJoin") :]
    assert re.search(
        r"Exchange hashpartitioning\(src#\d+L?, \d+\), REPARTITION_BY_NUM", below
    ), (
        "q482's BNLJ stream side lost its re-spread - the kNN build "
        "would serialize onto the scan's partition count at scale"
    )


def test_behavior_edit_distance_band_equi_join(spark):
    """q287's similarity join must be the length-band EQUI-join (explode
    band±1, join on band) — a hash-keyed join, never a non-equi
    BroadcastNestedLoopJoin over users² (round 7: the sf1 soak measured
    the all-pairs form at 100x pair growth; banding is the scale shape).

    Round 8 additions, both measured live: (a) the b side must carry an
    explicit (band, salt) re-spread — the band key is 2-3 distinct
    values and the side's lineage is a tiny AQE-coalesced agg, so
    without the exchange the 1.1M-pair DP ran on 1-2 cores (46 s vs
    5.4 s at sf0.1); (b) the plan is pinned by hint so neither side can
    win an AQE broadcast race (unpinned, the same query alternated
    6 s / 52 s across reps).

    Round 9 (ADVICE): the pin must be SHUFFLE_HASH, not broadcast — an
    explicit broadcast hint is honored regardless of
    autoBroadcastJoinThreshold, so past the 8 GB broadcast ceiling it
    is a hard job failure, not a fallback to the salted shuffle join.
    The shuffle-hash join co-partitions both sides on (band, salt),
    reusing b's REPARTITION_BY_NUM exchange — the scale plan at every
    scale. Round 9 also widened the salt grid 32→64 with 512 partitions:
    at sf1j the 64-cell grid hash-packed onto 37 of 64 partitions (worst
    partition 10.2% of the DP cost = a 3.3x single-core tail measured at
    549 s); 128 cells over 512 partitions packs the worst partition at
    2.6% < 1/32 (simulated wall factor 1.00x, re-timed in SOAK_r09)."""
    import re

    plan = _executed(_qs()["q287_behavior_edit_distance"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, (
        "q287 must never broadcast: the hint is honored past the 8 GB "
        "broadcast limit and becomes a hard failure at scale"
    )
    assert "band" in plan  # the join key survives into the physical plan
    i = plan.find("ShuffledHashJoin")
    assert i >= 0, "q287 lost its shuffle-hash pin"
    assert re.search(
        r"Exchange hashpartitioning\(band#\d+L?, salt#\d+, \d+\), "
        r"REPARTITION_BY_NUM",
        plan,
    ), "q287 lost its (band, salt) re-spread"


def test_substring_decontaminate_broadcasts_patterns(spark):
    """q138's pattern dictionary joins as a broadcast — per-doc cost must
    not depend on pattern count via a shuffle join. Round 9: the DOC side
    must also carry a pre-explode repartition — the window production was
    serialized on the single-file scan's one partition (28.6 s at sf1 on
    one core), so "embarrassingly parallel" needs the exchange below the
    Generate."""
    plan = _executed(_qs()["q138_substring_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # r10 (ADVICE): assert the exchange INSIDE the Generate's own
    # subtree — "appears anywhere after the Generate in the flat string"
    # was satisfiable by an unrelated later doc_id exchange, so the test
    # could keep passing after the pre-explode repartition was lost.
    from audit_explode_broadcast import _subtree

    lines = plan.splitlines()
    gens = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gens, "q138 lost its position explode"
    assert any(
        any("Exchange hashpartitioning(doc_id" in s for s in _subtree(lines, g)[1:])
        for g in gens
    ), "q138's position explode lost its pre-explode repartition"


def test_shingle_self_join_is_shuffled_not_broadcast(spark):
    """LIVE scale bug #9 (round-9 sf1 soak): q42/q165's shingle inverted-
    index self-join must be a ShuffledHashJoin on the shingle key, never
    a broadcast — the scan's size estimate counts FILE bytes and the
    explode's ~150x fan-out is invisible to it, so Catalyst broadcast an
    entire exploded shingle side (7.5M string rows at sf1) and streamed
    the k^2 pair production over the single-file scan's ONE partition
    (observed: a (0+1)/1 stage pinned >12 min; at corpus scale the same
    plan is an 8 GB broadcast failure). Both sides must exchange on the
    shingle key, and shingle production must not inherit the scan's
    layout (pre-explode repartition on doc_id)."""
    for name in ("q42_ngram_jaccard", "q165_containment_dedup"):
        plan = _executed(_qs()[name](spark, SF_DIR))
        assert "ShuffledHashJoin [s#" in plan, (
            f"{name}: shingle self-join lost its shuffle-hash pin"
        )
        assert "HashedRelationBroadcastMode(List(input[1, string" not in plan, (
            f"{name}: an exploded shingle side is being broadcast"
        )
        assert "Exchange hashpartitioning(doc_id" in plan, (
            f"{name}: lost the pre-explode doc repartition"
        )


def test_ewma_single_window_exchange(spark):
    """q130: one hashpartitioning Exchange (the user_id window), nothing
    else — the bounded-frame fold is JVM-side."""
    plan = _executed(_qs()["q130_ewma_window"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_countmin_sketch_broadcasts(spark):
    """q125's sketch side of the probe join is bounded (d*w rows) and must
    broadcast, never shuffle the probes."""
    plan = _executed(_qs()["q125_countmin_heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_join_cardinality_identity(spark, duck):
    """The histogram estimate must EQUAL the actual join count — the
    identity, not an approximation, on full per-key histograms."""
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q199_join_cardinality")
    r = all_queries()["q199_join_cardinality"](spark, SF_DIR).collect()[0]
    assert r["est_rows"] == r["actual_rows"] > 0
    assert r["hottest_key_rows"] >= 1


def test_q224_part_envelope_pushdown(spark):
    """q224's OR-of-ANDs must leave per-side envelope filters in the
    scans (PushedFilters on part's brand/size In/range), with the full
    disjunction as the post-join residual — and the part side must
    broadcast, never shuffle."""
    plan = _executed(_qs()["q224_disjunctive_predicates"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan
    # the part scan must carry a brand predicate (envelope of the OR)
    assert "p_brand" in plan.split("PushedFilters")[-1] or "p_brand" in plan


def test_q228_two_exchanges_only(spark):
    """q228 segment dedup: one content-keyed exchange (seg rank) + one
    doc-keyed exchange (reassembly) — the segment construction itself
    must be array-side (no exchange before the first window)."""
    plan = _executed(_qs()["q228_segment_dedup"](spark, SF_DIR))
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"expected 2 shuffles, got {n}"
    assert "SinglePartition" not in plan


def test_q243_broadcast_stats_no_window(spark):
    """q243 LOO encoding: the per-category stats join back via broadcast;
    the plan must contain no window at all (the naive LOO uses one)."""
    plan = _executed(_qs()["q243_loo_target_encoding"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q239_no_iteration_no_single_partition(spark):
    """q239 hierarchy rollup: path-explode + one aggregate — no
    SinglePartition exchange, exactly one hash-partitioned exchange
    (the ancestor-keyed aggregate)."""
    plan = _executed(_qs()["q239_hierarchy_rollup"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"expected 1 shuffle, got {n}"


def test_q250_kernel_plan_and_hof_reference_agree(spark):
    """q250 MaxSim: default plan is the broadcast-query mapInPandas
    einsum kernel (no Generate — the token dimension never explodes to
    rows); the pure-JVM HOF reference scorer must produce identical
    scores (the kernel's exactness proof)."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.queries.similarity import maxsim_scores_hof
    from hoops_edge_database_etl_spark.tables import load

    plan = _executed(_qs()["q250_maxsim_late_interaction"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "Generate" not in plan
    e = load(spark, SF_DIR, "embeddings")
    qv = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    dv = e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 60)).select(
        F.col("vec_id").alias("did"), F.col("embedding").alias("d_emb")
    )
    hof = {
        (r["qid"], r["did"]): r["score"]
        for r in maxsim_scores_hof(dv, qv).collect()
    }
    kernel_rows = _qs()["q250_maxsim_late_interaction"](spark, SF_DIR).collect()
    checked = 0
    for r in kernel_rows:
        if (r["qid"], r["did"]) in hof:
            assert hof[(r["qid"], r["did"])] == r["score"]
            checked += 1
    assert checked > 0


def test_q253_no_single_partition_window(spark):
    """q253's matching ordering must be the range-partitioned two-pass
    plan — no SinglePartition exchange (the global-window trap), with
    the range exchange and the __mc_pid-keyed local windows present.

    Round 9, caught LIVE at sf1: (a) the range exchange must carry an
    explicit partition count (REPARTITION_BY_NUM) — without it AQE
    coalesced the whole table into ONE range; (b) no window may use a
    shrinking (x, unboundedFollowing) frame — Spark re-scans the
    remainder per row (O(rows²) per partition; combined with (a) the
    query ran ~40 min at sf1 vs 3.7 s at sf0.1). The "first control
    above" is a growing frame over the DESCENDING order instead."""
    import re

    plan = _executed(_qs()["q253_matched_controls"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    assert "__mc_pid" in plan
    assert re.search(r"rangepartitioning\([^)]*, 32\), REPARTITION_BY_NUM", plan), (
        "q253's range exchange lost its explicit partition count - AQE "
        "will coalesce it to 1 range at scale"
    )
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", ""), (
        "q253 reintroduced a shrinking window frame - O(rows^2) per range"
    )


def test_spatial_grid_join_is_equi_join(spark):
    """q279/q283 must plan the cell-key hash equi-join (probe side
    exploded to 9 neighbor cells) — never a BroadcastNestedLoopJoin
    over the raw BETWEEN neighborhood predicate. r10 (ADVICE): the
    ShuffledHashJoin must BUILD on the un-replicated right side (1x
    points) — hinting the 9x probe made it the build side, 9x the
    necessary hash-map memory per partition."""
    import re

    for name in ("q279_spatial_radius_join", "q283_dbscan_core_points"):
        plan = _executed(_qs()[name](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "kx" in plan and "ky" in plan, name
        m = re.search(r"ShuffledHashJoin \[kx[^\n]*", plan)
        assert m, f"{name}: grid join is not a ShuffledHashJoin"
        assert "BuildRight" in m.group(0), (
            f"{name}: grid join builds on the 9x-replicated probe side "
            f"(expected BuildRight over the 1x build side): {m.group(0)[:120]}"
        )


def test_q408_is_knight_not_pair_join(spark):
    """r10: q408's τ-b must keep the O(n log n) Knight shape — a range
    exchange on (rev, qty) feeding the numpy dominance kernel — and
    never regress to the O(n²) theta pair join (20B pairs at sf1 for a
    single scalar row; 185.7 s → 3.3 s measured)."""
    import re

    plan = _executed(_qs()["q408_kendall_tau"](spark, SF_DIR))
    # the five scalar branches meet in condition-FREE 1-row cross joins;
    # the O(n²) regression signature is a nested-loop join WITH the
    # (pa < pb) theta condition
    theta_nlj = [
        ln
        for ln in plan.splitlines()
        if "NestedLoopJoin" in ln and "<" in ln.split("Join", 1)[1]
    ]
    assert not theta_nlj, f"q408 regressed to the pair join: {theta_nlj[:1]}"
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan, "q408 lost its dominance kernel"
    assert re.search(r"rangepartitioning\(rev#\d+L ASC NULLS FIRST, qty#\d+L", plan), (
        "q408 lost the (rev, qty) range exchange the dominance split "
        "depends on"
    )
    """q301's per-key window must exchange on the block key (the raw
    present-key stream never funnels through one reducer); only the
    bounded per-block aggregate may use an ordered boundary pass."""
    plan = _executed(_qs()["q301_key_gap_audit"](spark, SF_DIR))
    assert "hashpartitioning(block" in plan


def test_quantile_normalize_lookup_is_equi_join(spark):
    """q306's rank lookup must plan as an equi-join on the rank block
    (grid trick), never a nested-loop BETWEEN join over the histogram."""
    plan = _executed(_qs()["q306_quantile_normalize"](spark, SF_DIR))
    assert "blk" in plan
    assert "CartesianProduct" not in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "BroadcastNestedLoop" not in ln
    ]
    assert any("blk" in ln for ln in joins), "no equi join on blk found"


def test_q325_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q325_partition_advisor")


def test_q325_recommendations_scale_with_bytes(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.queries.layout import (
        FILE_TARGET_BYTES,
        SHUFFLE_TARGET_BYTES,
    )

    rows = {r["tbl"]: r for r in all_queries()["q325_partition_advisor"](spark, SF_DIR).collect()}
    assert len(rows) == 10
    for r in rows.values():
        assert r["avg_row_bytes"] >= 1
        assert r["shuffle_partitions"] == max(
            1, -(-r["est_bytes"] // SHUFFLE_TARGET_BYTES)
        )
        assert r["target_files"] == max(1, -(-r["est_bytes"] // FILE_TARGET_BYTES))
    assert rows["lineitem"]["est_bytes"] > rows["nation"]["est_bytes"]


def test_q387_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q387_storage_tiering")


def test_q387_tiers_partition_population(spark, duck):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.queries.layout import (
        TIER_BYTES_PER_EVENT,
    )

    rows = {r["tier"]: r for r in all_queries()["q387_storage_tiering"](spark, SF_DIR).collect()}
    assert set(rows) == {"hot", "warm", "cold"}
    [(n_events, n_parts)] = duck.execute(
        "SELECT COUNT(*), COUNT(DISTINCT (user_id, event_type)) FROM events"
    ).fetchall()
    assert sum(r["n_events"] for r in rows.values()) == n_events
    assert sum(r["n_partitions"] for r in rows.values()) == n_parts
    assert sum(r["share_ppm"] for r in rows.values()) <= 1_000_000
    for r in rows.values():
        assert r["est_bytes"] == r["n_events"] * TIER_BYTES_PER_EVENT


def test_q426_dims_broadcast_no_cross_join(spark):
    """The Q2-shape's supplier→nation→region dimension chain broadcasts;
    nothing falls back to a cartesian product."""
    plan = _executed(_qs()["q426_min_cost_supplier"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q443_part_filter_broadcasts(spark):
    """Stockout projection joins the sampled part fixture by broadcast —
    the fact table never shuffles for the dimension."""
    plan = _executed(_qs()["q443_stockout_projection"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q437_ltv_stays_jvm_side(spark):
    """Twelve value-iteration sweeps with zero Python stages."""
    plan = _executed(_qs()["q437_markov_ltv"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "InPandas" not in plan


def test_q446_sample_filters_pushed_to_scan(spark):
    """The deterministic-hash Bernoulli coins are plain filters — they
    must evaluate inside the scan stage, not after a shuffle."""
    df = _qs()["q446_sampled_join_estimate"](spark, SF_DIR)
    plan = _executed(df)
    # both sampled sides keep their Filter before any Exchange
    assert plan.count("Exchange") <= 6  # est join + truth join + 2 aggs


def test_q451_fused_lattice_single_scan(spark):
    """q451's entire lattice statistics come from ONE scan of orders via
    GROUPING SETS (q441's textbook form scans seven times); the Expand
    operator is the GROUPING SETS signature."""
    from hoops_edge_database_etl_spark.tables import register_views

    register_views(spark, SF_DIR)
    plan = _executed(
        spark.sql(
            """
            SELECT grouping_id() AS gid, COUNT(*) AS n
            FROM orders
            GROUP BY GROUPING SETS (
              (o_orderpriority), (year(o_orderdate)), (o_orderstatus),
              (o_orderpriority, year(o_orderdate)),
              (o_orderpriority, o_orderstatus),
              (year(o_orderdate), o_orderstatus),
              (o_orderpriority, year(o_orderdate), o_orderstatus))
            """
        )
    )
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_q457_bm25_single_scan_no_explode_broadcast_stats(spark):
    """BM25's term frequencies come from array HOFs, never explode; the
    corpus stats are a broadcast scalar; top-10 is TakeOrdered, not a
    global Sort."""
    plan = _executed(_qs()["q457_bm25_topk"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 2  # base pass + stats pass
    assert "Generate" not in plan  # explode's plan node
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_q461_gopher_is_pure_map(spark):
    """The quality battery is a single embarrassingly-parallel projection:
    one scan, ZERO exchanges, no aggregation, no Python."""
    plan = _executed(_qs()["q461_gopher_quality_rules"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q462_allen_pairs_equi_join_on_user(spark):
    """The interval pair generator must be an equi-join on user_id (the
    global CartesianProduct ban already covers the worst case; this pins
    the positive shape)."""
    plan = _executed(_qs()["q462_allen_relations"](spark, SF_DIR))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_q460_ranks_never_sort_the_population(spark):
    """Kruskal-Wallis midranks come from the value HISTOGRAM: the only
    window runs over the ~50-row per-value aggregate, so no plan stage
    sorts or windows the N-row population."""
    import re

    plan = _executed(_qs()["q460_kruskal_wallis"](spark, SF_DIR))
    # exactly one Window operator, fed by an aggregate (the histogram),
    # never directly by the scan/join of the population
    assert plan.count("Window") >= 1
    pop_window = re.search(r"Window.*\n(?:.*\n){0,3}.*SortMergeJoin", plan)
    assert pop_window is None


def test_q466_q467_folds_stay_jvm_side(spark):
    """The ordered folds (Page-Hinkley 5-vector, LZ78 dictionary) are
    codegen'd HOF expressions — no Python evaluator anywhere."""
    for q in ("q466_page_hinkley", "q467_lz78_complexity"):
        plan = _executed(_qs()[q](spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_elbow_wcss_accumulates_in_decimal(spark):
    """q402's WCSS is a corpus-level sum of per-vector int64 distances —
    int64 accumulation overflowed LIVE at sf1 (round-8 sampled soak,
    ARITHMETIC_OVERFLOW at 20k vectors). The SUM must run in
    DECIMAL(38,0) inside the plan; since r11 the OUTPUT casts to BIGINT
    (the driver hasher rejects DECIMAL outputs — q402 went red in r10
    with values verified identical). Both halves pinned here."""
    from pyspark.sql.types import LongType

    df = _qs()["q402_elbow_wcss"](spark, SF_DIR)
    types = dict((f.name, f.dataType) for f in df.schema.fields)
    for col in ("wcss", "drop_from_prev", "curvature"):
        assert isinstance(types[col], LongType), (col, types[col])
    # the accumulator itself must still be decimal inside the plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "decimal(38,0)" in analyzed


def test_overflow_class_sums_accumulate_in_decimal(spark):
    """Round-9 corpus-sum sweep (VERDICT r8 item 4, the q402 class: the
    per-row term fits int64, the corpus-level sum doesn't). Every rank/
    pair-count statistic that grows ~n^2 (Mann-Whitney U, AUC, doubled
    rank sums) and q442's ~n^4 shift terms must ACCUMULATE in
    DECIMAL(38,0) — under ANSI a genuine overflow throws, never wraps —
    but since r11 the OUTPUT column is BIGINT (the r10 driver hasher
    reddened DECIMAL outputs with values verified identical; the
    contract is enforced repo-wide by tests/test_oracle_types.py)."""
    from pyspark.sql.types import LongType

    pinned = {
        "q238_exact_auc": ("u2",),
        "q297_mann_whitney_u": ("r1_doubled", "u1_doubled", "u2_doubled"),
        "q371_adversarial_validation": ("u_doubled",),
        "q442_embedding_drift": ("shift_num",),
    }
    for name, cols in pinned.items():
        df = _qs()[name](spark, SF_DIR)
        types = {f.name: f.dataType for f in df.schema.fields}
        for col in cols:
            assert isinstance(types[col], LongType), (name, col, types[col])
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "decimal(38,0)" in analyzed, name


def test_preference_pairs_extreme_pruned(spark):
    """q404 must build pairs from the per-lang top-K/bottom-K quality
    extremes (two rank windows, WindowGroupLimit pushdown), never the
    docs-per-lang² all-pairs join — the round-8 sf1 soak measured the
    brute-force form at slope 63 (54.6 s) vs 1.1 s pruned. Output
    equivalence is proven by the oracle on every gate run (it still
    computes the brute-force join); this pins the PLAN shape."""
    plan = _executed(_qs()["q404_preference_pairs"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan  # rank filters pushed as top-k
    assert plan.count("row_number()") >= 3  # top-K, bottom-K, final rank
