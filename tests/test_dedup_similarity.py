"""Dedup / similarity / text-analysis oracle parity + recall invariants."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, compare_query

QUERIES = [
    "q41_exact_dedup",
    "q42_ngram_jaccard",
    "q43_minhash_lsh",
    "q44_simhash",
    "q45_simhash_pairs",
    "q46_cosine_top_pairs",
    "q47_ann_sign_lsh",
    "q48_knn_brute_force",
    "q49_lang_id",
    "q50_quality_score",
    "q51_token_stats",
    "q52_fingerprint_clusters",
    "q60_embedding_near_dup",
    "q62_dedup_clusters",
    "q63_ann_ivf",
    "q164_kmeans_lloyd",
    "q165_containment_dedup",
]


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    compare_query(spark, duck, name)


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """LSH with 4 bands × 2 rows (threshold ≈ 0.5) must recover the large
    majority of true J ≥ 0.5 pairs — the planted near-dups in documents."""
    from hoops_edge_database_etl_spark.queries import all_queries

    qs = all_queries()
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in qs["q42_ngram_jaccard"](spark, SF_DIR).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in qs["q43_minhash_lsh"](spark, SF_DIR).collect()
    }
    assert truth, "expected planted near-duplicate pairs in testdata"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_exact_dedup_finds_planted_duplicates(spark):
    """Behavioral check on synthetic data (testdata has no exact dups)."""
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
        "doc_id int, text string",
    )
    w = Window.partitionBy(F.md5("text"))
    out = df.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
    ).collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in out}
    assert canon == {1: 1, 2: 1, 4: 1, 3: 3}


def test_ann_results_subset_of_brute_force_ordering(spark):
    """Every ANN neighbor's cosine must equal the brute-force cosine for
    the same pair (the bucketing only restricts candidates, never alters
    scores)."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.queries import all_queries

    qs = all_queries()
    ann = qs["q47_ann_sign_lsh"](spark, SF_DIR)
    knn = qs["q48_knn_brute_force"](spark, SF_DIR)
    joined = ann.alias("a").join(
        knn.alias("k"),
        (F.col("a.query_id") == F.col("k.query_id"))
        & (F.col("a.neighbor_id") == F.col("k.neighbor_id")),
    )
    diffs = joined.filter(F.col("a.cosine") != F.col("k.cosine")).count()
    assert diffs == 0


def test_ivf_scores_exact_and_recall_reasonable(spark):
    """q63's scores must equal brute-force cosine for the same pair
    (cell-probing restricts candidates, never alters scores), and with
    nprobe=2 the IVF top-1 should recover most true nearest neighbors."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.queries import all_queries

    qs = all_queries()
    ivf = qs["q63_ann_ivf"](spark, SF_DIR)
    knn = qs["q48_knn_brute_force"](spark, SF_DIR)
    joined = ivf.alias("a").join(
        knn.alias("k"),
        (F.col("a.query_id") == F.col("k.query_id"))
        & (F.col("a.neighbor_id") == F.col("k.neighbor_id")),
    )
    assert joined.filter(F.col("a.cosine") != F.col("k.cosine")).count() == 0
    true1 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn.filter("rank = 1").collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]) for r in ivf.collect()
    }
    assert true1, "expected brute-force top-1 rows"
    recall = len(true1 & got) / len(true1)
    assert recall >= 0.5, f"IVF top-1 recall {recall:.2f}"


def test_simhash_close_docs_have_small_hamming(spark):
    """Near-identical shingle sets ⇒ near-identical SimHash."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.functions.text import (
        hamming32,
        simhash32,
        word_shingles,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # one extra trailing shingle
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    sim = df.select("doc_id", simhash32(word_shingles("text", 3)).alias("h"))
    h = {r["doc_id"]: r["h"] for r in sim.collect()}
    d = spark.createDataFrame([(h[1], h[2]), (h[1], h[3])], "a long, b long")
    near_d, far_d = [
        r[0] for r in d.select(hamming32(F.col("a"), F.col("b"))).collect()
    ]
    assert near_d < far_d
    assert near_d <= 8


def test_ann_strategies_agree(spark):
    """The shuffle/blocked scale paths and the size-gated broadcast fast
    paths are alternative physical plans for the same operator — exact
    int64 math means results must be IDENTICAL, not just close."""
    from hoops_edge_database_etl_spark.queries.similarity import (
        ann_sign_lsh,
        cosine_top_pairs,
    )
    from hoops_edge_database_etl_spark.tables import load

    e = load(spark, SF_DIR, "embeddings")
    top_blocked = [tuple(r) for r in cosine_top_pairs(spark, e, strategy="blocked").collect()]
    top_bcast = [tuple(r) for r in cosine_top_pairs(spark, e, strategy="broadcast").collect()]
    assert top_blocked == top_bcast and len(top_blocked) == 20

    key = lambda t: (t[0], t[3])  # noqa: E731
    nn_shuffle = sorted((tuple(r) for r in ann_sign_lsh(spark, e, strategy="shuffle").collect()), key=key)
    nn_bcast = sorted((tuple(r) for r in ann_sign_lsh(spark, e, strategy="broadcast").collect()), key=key)
    assert nn_shuffle == nn_bcast and len(nn_shuffle) > 0


def test_dedup_clusters_consistent_with_pairs(spark):
    """Every LSH candidate pair must land in one cluster; cluster ids are
    component minima; sizes count members."""
    from hoops_edge_database_etl_spark.queries import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    pairs = [(r["doc_a"], r["doc_b"]) for r in qs["q43_minhash_lsh"](spark, sf).collect()]
    clusters = {r["doc_id"]: r["cluster_id"] for r in qs["q62_dedup_clusters"](spark, sf).collect()}
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    for doc, c in clusters.items():
        assert c <= doc
        assert clusters[c] == c  # the canonical doc is its own cluster id


def test_jaccard_stop_shingle_cap_bounds_fanout_never_adds_pairs(spark):
    """The capped variant must emit a SUBSET of the exact pairs (recall
    trade only — no false positives), and a boilerplate shingle shared by
    every doc must stop contributing candidates."""
    from hoops_edge_database_etl_spark.queries.dedup_text import jaccard_pairs

    boiler = "lorem ipsum dolor"  # one 3-gram shared by ALL docs
    docs = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " alpha beta gamma epsilon"),
        (3, boiler + " zeta eta theta iota"),
        (4, boiler + " kappa lambda mu nu"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(d, threshold=0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(d, threshold=0.0, max_shingle_freq=2).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12  # only ever underestimates
    # docs 3 & 4 overlap ONLY via the boilerplate shingle → pair vanishes
    assert (3, 4) in exact and (3, 4) not in capped
    # docs 1 & 2 share plenty of rare shingles → pair survives the cap
    assert (1, 2) in capped


def test_prefix_join_is_lossless_vs_bruteforce(spark):
    """Prefix filtering must find EXACTLY the brute-force pair set on a
    subsample (losslessness is the algorithm's whole claim)."""
    import itertools

    import pyspark.sql.functions as F2

    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.queries.dedup_text import SSJ_T10
    from hoops_edge_database_etl_spark.tables import load
    from tests.conftest import SF_DIR

    got = {
        (r["da"], r["db"])
        for r in all_queries()["q154_setsim_prefix_join"](spark, SF_DIR).collect()
    }
    docs = {
        r["doc_id"]: set(r["s"]) - {""}
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", F2.array_distinct(F2.split("text", " ")).alias("s"))
        .filter(F2.col("doc_id") < 120)
        .collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        inter = len(docs[a] & docs[b])
        un = len(docs[a] | docs[b])
        if inter * 10 >= SSJ_T10 * un:
            want.add((a, b))
    sub_got = {p for p in got if p[0] in docs and p[1] in docs}
    assert sub_got == want


@pytest.mark.parametrize("collision", [False, True])
def test_q154_both_verify_encodings_match_oracle(spark, duck, monkeypatch, collision):
    """q154 verifies candidates on xxhash64 long arrays when the hash is
    injective on the vocabulary, else on the exact string sets. Forcing the
    gate false takes the fallback; both branches match the oracle."""
    from hoops_edge_database_etl_spark.queries import dedup_text

    real = dedup_text._xxhash64_injective
    seen = []

    def gate(vocab):
        seen.append(real(vocab))
        return seen[-1] and not collision

    monkeypatch.setattr(dedup_text, "_xxhash64_injective", gate)
    compare_query(spark, duck, "q154_setsim_prefix_join")
    assert seen == [True]  # the fixture has no real collision


def test_xxhash64_gate_detects_clashes(spark):
    from hoops_edge_database_etl_spark.queries.dedup_text import _xxhash64_injective

    def vocab(*toks):
        return spark.createDataFrame([(t,) for t in toks], "tok string")

    assert _xxhash64_injective(vocab("a", "b"))
    assert not _xxhash64_injective(vocab("a", "a"))  # two rows, one hash
    assert not _xxhash64_injective(vocab("a", ""))  # hashes like the empty token


def test_kmeans_lloyd_partition_of_corpus(spark):
    """Every vector lands in exactly one cluster: per-dimension assigned
    counts sum to the corpus size, and updated coordinates stay in the
    input range."""
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.tables import load

    rows = all_queries()["q164_kmeans_lloyd"](spark, SF_DIR).collect()
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    by_pos: dict[int, int] = {}
    for r in rows:
        by_pos[r["pos"]] = by_pos.get(r["pos"], 0) + r["n_assigned"]
        assert -1.0 <= r["new_coord"] <= 1.0
    assert set(by_pos.values()) == {n_vecs}


def test_containment_is_directed_and_bounded(spark):
    """Containment ≥ 0.6 by the filter, ≤ 1 by set algebra; a full-dup
    pair must appear in BOTH directions (q41's exact dups are planted)."""
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q165_containment_dedup"](spark, SF_DIR).collect()
    assert rows
    pairs = {(r["contained_doc"], r["container_doc"]) for r in rows}
    for r in rows:
        assert 0.6 <= r["containment"] <= 1.0
        assert r["n_shared"] <= r["n_shingles"]
        if r["containment"] == 1.0 and (r["container_doc"], r["contained_doc"]) in pairs:
            break
    both = sum(1 for a, b in pairs if (b, a) in pairs)
    assert both >= 2  # exact-dup pairs surface in both directions


def test_int8_quantize_codes_in_range(spark, duck):
    from tests.conftest import compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q176_int8_quantize")
    rows = all_queries()["q176_int8_quantize"](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 < r["max_code"] <= 127
        # round-to-nearest: |qv·127 − code·sc| ≤ sc/2 (one half code step,
        # where sc = scale·2²⁴ in fixed-point units)
        assert r["err_max_fixed"] * 2 <= r["scale"] * (1 << 24) + 2


def test_q246_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q246_hard_negative_mining")


def test_q246_negatives_cross_label(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.tables import load

    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    }
    rows = all_queries()["q246_hard_negative_mining"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert labels[r["qid"]] != labels[r["pid"]]
        assert 1 <= r["rnk"] <= 3
        assert -1.0 <= r["cosine"] <= 1.0


def test_q249_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q249_incremental_dedup")


def test_q249_admit_set_is_hash_unique_vs_corpus(spark):
    """After the increment, admitted batch hashes are disjoint from the
    base index and unique within the batch."""
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.tables import load
    import hashlib

    docs = {
        r["doc_id"]: hashlib.md5(r["text"].encode()).hexdigest()
        for r in load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    base_hashes = {h for d, h in docs.items() if d < 400}
    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in all_queries()["q249_incremental_dedup"](spark, SF_DIR).collect()
    }
    admitted = [d for d, v in verdicts.items() if v == "admit"]
    admitted_hashes = [docs[d] for d in admitted]
    assert len(set(admitted_hashes)) == len(admitted_hashes)
    assert not (set(admitted_hashes) & base_hashes)
    # every dropped doc has a justification
    for d, v in verdicts.items():
        if v == "drop":
            h = docs[d]
            dup_in_base = h in base_hashes
            dup_in_batch = any(
                docs[o] == h and o < d for o in verdicts if o != d
            )
            assert dup_in_base or dup_in_batch


def test_q250_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q250_maxsim_late_interaction")


def test_q250_maxsim_dominates_single_token(spark):
    """MaxSim >= any single query-token's best dot: the sum of per-token
    maxima dominates each term."""
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q250_maxsim_late_interaction"](spark, SF_DIR).collect()
    assert len(rows) == 30  # 10 queries x top-3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r["rnk"] for r in rs)
        assert ranks == [1, 2, 3]
        scores = [r["score"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert scores == sorted(scores, reverse=True)


def test_q251_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q251_ann_recall_eval")


def test_q251_recall_bounds(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q251_ann_recall_eval"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r["n_matched"] <= 3
        assert r["recall_ppm"] == r["n_matched"] * 1_000_000 // 3
    # the sign-LSH index should find at least SOME true neighbors
    assert sum(r["n_matched"] for r in rows) > 0


def test_q259_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q259_semantic_decontamination")


def test_q259_flags_are_above_threshold(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q259_semantic_decontamination"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["max_eval_cosine"] >= 0.35
        assert r["n_close_eval"] >= 1


def test_q308_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q308_lsh_recall_eval")


def test_q308_metric_bounds(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    [r] = all_queries()["q308_lsh_recall_eval"](spark, SF_DIR).collect()
    assert r["n_hits"] <= min(r["n_truth"], r["n_candidates"])
    assert 0 <= r["recall_ppm"] <= 1_000_000
    assert 0 <= r["precision_ppm"] <= 1_000_000
    # 4x2 banding at J>=0.5 must catch a solid majority of true pairs
    assert r["recall_ppm"] >= 500_000


def test_q309_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q309_pq_assign")


def test_q309_codebook_vectors_encode_to_themselves(spark):
    """A codebook member's nearest centroid in every subspace is itself
    at distance zero — the PQ sanity identity."""
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.queries.similarity import (
        PQ_K,
        PQ_SUBSPACES,
    )

    rows = all_queries()["q309_pq_assign"](spark, SF_DIR).collect()
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r["vec_id"], {})[r["sub"]] = r
    for vid, subs in per_vec.items():
        assert set(subs) == set(range(PQ_SUBSPACES))
        for r in subs.values():
            assert 0 <= r["code"] < PQ_K
            assert r["dist"] >= 0
            if vid < PQ_K:
                assert r["code"] == vid and r["dist"] == 0


def test_q335_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q335_ngram_novelty")


def test_q335_novelty_accounting(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q335_ngram_novelty"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_seen_in_train"] <= r["n_test_shingles"]
        expect = (
            (r["n_test_shingles"] - r["n_seen_in_train"]) * 1_000_000
            // r["n_test_shingles"]
        )
        assert r["novelty_ppm"] == expect


def test_q344_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q344_lsh_s_curve")


def test_q344_s_curve_shape(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = sorted(
        all_queries()["q344_lsh_s_curve"](spark, SF_DIR).collect(),
        key=lambda r: r["bucket"],
    )
    assert rows
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert 0.0 <= r["theory_mid"] <= 1.0
    # empirical catch rate is nondecreasing in jaccard bucket (S-curve)
    catches = [r["catch_ppm"] for r in rows]
    assert catches == sorted(catches)
    # the top bucket must be nearly always caught
    assert rows[-1]["catch_ppm"] >= 900_000


def test_q345_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q345_matryoshka_eval")


def test_q345_recall_bounds_and_query_set(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q345_matryoshka_eval"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["query_id"] % 50 == 0
        assert 0 <= r["n_matched"] <= 3
        assert r["recall_ppm"] == r["n_matched"] * 1_000_000 // 3
    # 16 of 64 dims should retain meaningful recall on average
    assert sum(r["n_matched"] for r in rows) > 0


def test_q381_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q381_dup_cluster_histogram")


def test_q381_histogram_reconciles(spark, duck):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q381_dup_cluster_histogram"](spark, SF_DIR).collect()
    sizes = {r["cluster_size"] for r in rows}
    assert 1 in sizes and 3 in sizes  # fixture makes triplicates
    [(n_docs,)] = duck.execute("SELECT COUNT(*) FROM documents").fetchall()
    [(n_dup,)] = duck.execute(
        """SELECT COUNT(*) FROM documents
           WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dup'),
                 1, 8) AS BIGINT) % 7 = 0"""
    ).fetchall()
    assert sum(r["n_docs_in_bucket"] for r in rows) == n_docs + 2 * n_dup
    assert sum(r["removable_docs"] for r in rows) == 2 * n_dup
    for r in rows:
        assert r["n_docs_in_bucket"] == r["cluster_size"] * r["n_clusters"]


def test_q391_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q391_candidate_transitivity")


def test_q391_closure_bounds(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    [r] = all_queries()["q391_candidate_transitivity"](spark, SF_DIR).collect()
    assert r["n_pairs"] > 0
    assert 0 <= r["n_closed"] <= r["n_wedges"]
    assert 0 <= r["closure_ppm"] <= 1_000_000


def test_q402_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q402_elbow_wcss")


def test_q402_wcss_monotone_and_knee(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = sorted(
        all_queries()["q402_elbow_wcss"](spark, SF_DIR).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 3, 4, 5, 6]
    wcss = [r["wcss"] for r in rows]
    assert wcss == sorted(wcss, reverse=True)  # more centroids never hurt
    knees = [r for r in rows if r["is_knee"]]
    assert len(knees) >= 1
    interior = [r for r in rows if r["curvature"] is not None]
    best = max(r["curvature"] for r in interior)
    for r in interior:
        assert r["is_knee"] == (r["curvature"] == best)
