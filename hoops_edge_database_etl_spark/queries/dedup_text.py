"""Document deduplication operators (BASELINE north star: exact dedup,
n-gram Jaccard, MinHash+LSH, SimHash — each oracle-checked on the
``documents`` table).

Scale ladder, explicit in each query:
- q41 exact:        one hash-groupBy — linear, the always-first pass.
- q42 Jaccard:      inverted shingle index self-join — exact but the join
                    fan-out is quadratic in per-shingle frequency; the
                    TRUTH baseline for the approximate methods.
- q43 MinHash+LSH:  banded signatures — the 100 TB path; candidate count ≈
                    true-pair count instead of shingle-frequency².
- q44/q45 SimHash:  constant-size per-doc sketch + pigeonhole band join —
                    the cheapest near-dup detector, Hamming-bounded.

All hashing is md5-based so DuckDB computes bit-identical results (see
functions.text; swap xxhash64 in production)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.functions.text import (
    MINHASH_COEFFS,
    MINHASH_P,
    base_hash60,
    hamming32,
    lsh_band_keys,
    minhash_from_hashes,
    shingles_from_tokens,
)
from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

# Shared DuckDB CTE: distinct word 3-gram shingles per document.
_SHINGLES_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)
    )
"""


@query(
    "q41_exact_dedup",
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
    FROM documents
    """,
)
def q41_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (D2–D4 generalized): every doc
    mapped to the min doc_id sharing its md5. Hashing first means the
    shuffle key is 16 bytes regardless of document size — at 100 TB the
    exchange moves hashes, not bodies."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    canonical = F.min("doc_id").over(w)
    return d.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") != canonical).alias("is_dup"),
    )


@query(
    "q42_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i AS doc_a, j AS doc_b,
           CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
    FROM inter JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
    WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
    """,
)
def q42_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (J ≥ 0.5) via an inverted
    shingle index: |A∩B| from a shingle self-join, |A∪B| = |A|+|B|−|A∩B|.
    Exact ground truth; the LSH variants below approximate THIS. Scale
    hazard: a shingle shared by k docs emits k² join rows —
    ``jaccard_pairs(max_shingle_freq=...)`` (stop-shingle cap) or q43's
    LSH is the fix at corpus scale."""
    return jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


def jaccard_pairs(
    d: DataFrame, threshold: float = 0.5, max_shingle_freq: int | None = None
) -> DataFrame:
    """Inverted-index Jaccard join over ``(doc_id, text)``.

    ``max_shingle_freq``: drop shingles shared by more than this many
    docs BEFORE the self-join (stop-shingles). A shingle in k docs emits
    k² candidate rows, so one boilerplate phrase across 10⁶ docs is a
    10¹²-row join without the cap. Dropping a shared shingle can only
    LOWER a pair's computed intersection (doc sizes stay full), so the
    capped variant under-estimates J — it loses recall on pairs whose
    overlap is mostly stop-shingles but never invents a false pair.
    ``None`` (the oracle-checked default) is the exact form.

    LIVE scale bug #9 (round-9 sf1 soak, via q165's identical shape):
    left to the size estimator, this self-join BROADCASTS one entire
    exploded shingle side and streams the other over the single-file
    parquet scan — scan estimates count FILE bytes and a Generate does
    not inflate them, so a 50 MB documents file whose explode is ~7.5M
    shingle rows sneaks under the 64 MB broadcast threshold, and the
    whole k² pair production + partial count runs in ONE task (observed
    live: a (0+1)/1 stage pinned for >12 min at sf1; at real corpus
    scale the same plan is an 8 GB-broadcast hard failure instead, the
    q287 ADVICE lesson). Two pins: repartition the docs BEFORE the
    explode so shingle production is not serialized on the scan's
    partitioning, and hint the self-join SHUFFLE_HASH so both exploded
    sides exchange on the shingle key and every reducer produces its
    own bucket's pairs — the inverted-index plan the docstring always
    claimed. Plan-audited in tests/test_plans.py."""
    d = d.repartition("doc_id")
    sh = d.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s")
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    joinable = sh
    if max_shingle_freq is not None:
        freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        joinable = (
            sh.join(freq.filter(F.col("__df") <= max_shingle_freq), "s")
            .select("doc_id", "s")
        )
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    x, y = sz.alias("x"), sz.alias("y")
    jac = F.col("c").cast("double") / (F.col("x.n") + F.col("y.n") - F.col("c"))
    return (
        inter.join(x, F.col("x.doc_id") == F.col("i"))
        .join(y, F.col("y.doc_id") == F.col("j"))
        .select(
            F.col("i").alias("doc_a"),
            F.col("j").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_COEFF_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS)
)


@query(
    "q43_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS nb
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    est AS (
      SELECT x.doc_id AS i, y.doc_id AS j,
             SUM(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) / 8.0 AS ej
      FROM sig x JOIN sig y ON x.i = y.i AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT cand.i AS doc_a, cand.j AS doc_b,
           CAST(nb AS BIGINT) AS n_shared_bands, ej AS est_jaccard
    FROM cand JOIN est ON est.i = cand.i AND est.j = cand.j
    """,
)
def q43_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + LSH banding (4 bands × 2 rows ⇒ threshold
    J ≈ 0.5): shingle → signature → band-key bucket join. The 100 TB dedup
    path — candidate generation touches only same-bucket docs, and the
    per-doc state is a fixed 8-hash signature, not the shingle set.
    est_jaccard = matching signature components / 8.

    Round 9 (live-bug-#9 static sweep): the band self-join must be the
    SHUFFLE join the docstring describes — left to the estimator, the
    docs x 4-bands signature side (corpus-proportional!) was BROADCAST,
    because a scan's size estimate counts file bytes and neither the
    shingle explode nor the signature fan-out inflates it. Same two
    pins as jaccard_pairs: pre-explode repartition (shingle production
    must not serialize on the single-file scan) and a shuffle-hash hint
    so both sides co-partition on the (band, key) bucket."""
    d = load(spark, sf_dir, "documents").repartition("doc_id")
    # explode + 8-MIN HashAggregate: the affine variants are integer
    # expressions over ONE md5 per shingle, and the min-reduction runs in
    # codegen with map-side combine (array_min folds are interpreted)
    hashed = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s"))
        .select("doc_id", base_hash60(F.col("s")).alias("h"))
    )
    docs = hashed.groupBy("doc_id").agg(
        F.array(
            *[
                F.min((F.lit(a).cast("long") * F.col("h") + F.lit(b)) % F.lit(MINHASH_P))
                for a, b in MINHASH_COEFFS[:8]
            ]
        ).alias("sig")
    )
    bands = docs.select(
        "doc_id",
        "sig",
        F.posexplode(lsh_band_keys(F.col("sig"), bands=4, rows_per_band=2)).alias(
            "b", "key"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return cand.select(
        "doc_a",
        "doc_b",
        "n_shared_bands",
        (matches / F.lit(8.0)).alias("est_jaccard"),
    )


@query(
    "q62_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    und AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM band a JOIN band b
        ON a.b = b.b AND a.key = b.key AND a.doc_id <> b.doc_id
    ),
    lab(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.src, l.lbl FROM lab l JOIN und u ON u.dst = l.node
      WHERE l.lbl < u.src
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM lab GROUP BY node)
    SELECT c.doc_id, c.cluster_id, CAST(n.sz AS BIGINT) AS cluster_size,
           c.doc_id = c.cluster_id AS is_canonical
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id) n
      USING (cluster_id)
    """,
)
def q62_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the MinHash-LSH
    candidate graph (edges = q43's banded pairs), the step an actual
    training-data pipeline runs after pair generation — pairs → components
    → keep one canonical doc per component. cluster_id = min doc_id in the
    component; every document appears (singletons cluster with themselves).

    Iterative min-label propagation via
    :func:`~hoops_edge_database_etl_spark.operators.cc.connected_components_labelprop`:
    each sweep is join(labels, edges) + groupBy-min — pure integer min, so
    the unique fixed point is engine-exact and a DuckDB recursive CTE
    hash-checks it. Convergence is monitored with sum(lbl), an integer
    that strictly decreases until the fixed point.

    Scale design: the loop runs ONLY on edge-incident nodes — in a
    near-dup graph the candidate-pair set is ≪ the corpus, so the
    iterative state is |V_active| + |E| rows, not |corpus|; untouched
    documents are singleton clusters by construction and bypass the loop
    entirely (left join at the end). Near-dup components are small
    (bounded by band collision rate), so iterations ≈ component diameter
    (single digits); for adversarial graph shapes q412 swaps in
    star contraction, provably O(log n) sweeps."""
    from hoops_edge_database_etl_spark.operators.cc import (
        connected_components_labelprop,
    )

    edges = q43_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # back to `lbl`: the optimizer then drops the rename, so q69's and
    # q450's soak-pinned plans (which embed this one) stay as they were
    labels = connected_components_labelprop(edges).select(
        "node", F.col("component").alias("lbl")
    )

    d = load(spark, sf_dir, "documents")
    # singletons (no incident edge) cluster with themselves — no loop cost
    comp = (
        d.select("doc_id")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select(
            "doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id")
        )
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


from hoops_edge_database_etl_spark.queries import _ORACLES  # noqa: E402


@query("q412_dedup_clusters_star", oracle=_ORACLES["q62_dedup_clusters"])
def q412_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q62's near-dup clustering with the round-6 STAR-CONTRACTION engine
    (operators/cc.py) swapped in for label propagation — SHARING q62's
    oracle verbatim, so the two algorithms are hash-checked to produce
    the IDENTICAL clustering on the real MinHash-LSH candidate graph,
    not just the planted-path fixture (q410/q411).  On shallow LSH
    components labelprop stays the cheaper default (README crossover:
    star wins past diameter ~16); this twin exists so the swap is a
    one-line, already-verified decision when a corpus's candidate graph
    turns adversarial (chain-shaped near-dup families: versioned docs,
    templated spam)."""
    from hoops_edge_database_etl_spark.operators.cc import (
        connected_components_star,
    )

    edges = q43_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components_star(edges).select(
        "node", F.col("component").alias("lbl")
    )
    d = load(spark, sf_dir, "documents")
    comp = (
        d.select("doc_id")
        .join(labels, d["doc_id"] == labels["node"], "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id"))
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


_SIMHASH_H = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
_SIMHASH_SUMS = ", ".join(
    f"SUM(2 * (({_SIMHASH_H} // {1 << (31 - j)}) % 2) - 1) AS s{j}" for j in range(32)
)
_SIMHASH_COMBINE = " + ".join(
    f"CASE WHEN s{j} >= 0 THEN CAST({1 << (31 - j)} AS BIGINT) ELSE 0 END"
    for j in range(32)
)


def _simhash_oracle() -> str:
    """DuckDB SQL mirroring functions.text.simhash32 bit-for-bit."""
    return f"""
    WITH {_SHINGLES_CTE},
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM sh GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash
    FROM sums
    """


@query("q44_simhash", oracle=_simhash_oracle())
def q44_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash sketch (sign-of-sums over shingle
    hashes) — constant 4 bytes of dedup state per document regardless of
    length; computed as one expression fold, no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    return _simhash_docs(d)


def _simhash_docs(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) via explode + one 32-sum HashAggregate.

    Semantically identical to functions.text.simhash32_from_hashes (bit j
    set iff 2·popcount_j ≥ n) but expressed as a groupBy so the bit sums
    run inside whole-stage codegen with map-side partial aggregation —
    higher-order-function folds are interpreted per element and were ~2×
    slower at 5k docs (and the gap widens with corpus size)."""
    from hoops_edge_database_etl_spark.functions.text import SIMHASH_BITS, hash32

    ex = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s"))
        .select("doc_id", hash32(F.col("s")).alias("h"))
    )
    sums = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", SIMHASH_BITS - 1 - j).bitwiseAND(F.lit(1))).alias(
                f"c{j}"
            )
            for j in range(SIMHASH_BITS)
        ],
    )
    simhash = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        simhash = simhash + F.when(
            2 * F.col(f"c{j}") >= F.col("n"), F.lit(1 << (SIMHASH_BITS - 1 - j))
        ).otherwise(0).cast("long")
    return sums.select("doc_id", simhash.alias("simhash"))


@query(
    "q45_simhash_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM sh GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM sums),
    expl AS (
      SELECT doc_id, simhash, b, (simhash // (1 << (8 * b))) % 256 AS band_val
      FROM sim, UNNEST(range(0, 4)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS i, a.simhash AS ha, b.doc_id AS j, b.simhash AS hb
      FROM expl a JOIN expl b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT i AS doc_a, j AS doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def q45_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming ≤ 3, found WITHOUT a cross
    join: split the 32 bits into 4 bands of 8 — any pair within Hamming 3
    matches at least one band exactly (pigeonhole), so a band-bucket join
    has guaranteed recall, and 8-bit bands keep buckets ~256× smaller than
    4-bit ones (the knob that keeps candidates sub-quadratic at corpus
    scale). The standard web-scale simhash dedup layout.

    Round 9 (live-bug-#9 static sweep): the docs x 4-bands side is
    corpus-proportional and was being BROADCAST (the explode fan-out is
    invisible to the file-bytes size estimate) — the band bucket join
    is pinned shuffle-hash on (b, band_val), and the shingle production
    feeding the simhash respreads past the single-file scan."""
    d = load(spark, sf_dir, "documents").repartition("doc_id")
    sim = _simhash_docs(d)
    expl = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn(
        "band_val",
        (
            F.floor(
                F.col("simhash")
                / F.pow(F.lit(2.0), (F.col("b") * 8).cast("double")).cast("long")
            ).cast("long")
            % 256
        ),
    )
    a, b = expl.alias("a"), expl.alias("b")
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("ha"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming32(F.col("ha"), F.col("hb")).cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "q60_embedding_near_dup",
    oracle=f"""
    WITH q AS (
      SELECT d.doc_id, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(floor(CAST(embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)
                         * CAST(floor(CAST(embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS DOUBLE)) AS nn
      FROM q, UNNEST(range(1, 65)) AS t(k) GROUP BY doc_id
    ),
    prod AS (
      SELECT a.doc_id AS i, b.doc_id AS j,
             CAST(SUM(CAST(floor(CAST(a.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)
                    * CAST(floor(CAST(b.embedding[k] AS DOUBLE) * 16777216 + 0.5) AS BIGINT)) AS BIGINT) AS dot
      FROM q a JOIN q b ON a.doc_id < b.doc_id, UNNEST(range(1, 65)) AS t(k)
      GROUP BY 1, 2
    )
    SELECT i AS doc_a, j AS doc_b,
           CAST(dot AS DOUBLE) / (x.nn * y.nn) AS cosine
    FROM prod JOIN nrm x ON x.doc_id = i JOIN nrm y ON y.doc_id = j
    WHERE CAST(dot AS DOUBLE) / (x.nn * y.nn) >= 0.45
    """,
)
def q60_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over documents (cosine ≥ 0.45
    on the paired embedding table) — the semantic complement to the
    lexical dedup family above: rephrasings that share no shingles still
    collide in embedding space. Same exact int64 fixed-point arithmetic as
    q46 (see queries.similarity).

    Physical plan is the distributed blocked all-pairs scan
    (:func:`~hoops_edge_database_etl_spark.queries.similarity.cosine_pairs_threshold`):
    tile the pair matrix over block-pair groups, one numpy int64 matmul
    per tile, emit only above-threshold pairs — exact results with no
    driver collect and no per-pair expression interpretation (the
    join+fold formulation of the same scan is ~40× slower at sf0.1). At
    corpus scale candidates come from q47's sign-LSH buckets and only
    candidate pairs are scored."""
    from hoops_edge_database_etl_spark.queries.similarity import (
        cosine_pairs_threshold,
    )

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    q = d.join(e, d.doc_id == e.vec_id).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return cosine_pairs_threshold(q, 0.45).select(
        F.col("i").alias("doc_a"), F.col("j").alias("doc_b"), "cosine"
    )


@query(
    "q69_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    und AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM band a JOIN band b
        ON a.b = b.b AND a.key = b.key AND a.doc_id <> b.doc_id
    ),
    lab(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.src, l.lbl FROM lab l JOIN und u ON u.dst = l.node
      WHERE l.lbl < u.src
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM lab GROUP BY node)
    SELECT c.doc_id, CAST(n.sz AS BIGINT) AS cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id) n
      USING (cluster_id)
    WHERE c.doc_id = c.cluster_id
    """,
)
def q69_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL, materialized: the canonical document per q62
    cluster (min doc_id), i.e. the corpus a training pipeline actually
    keeps after pairs → components → keep-one. cluster_size rides along
    as the dedup-provenance column (how many docs this one represents)."""
    return (
        q62_dedup_clusters(spark, sf_dir)
        .filter(F.col("is_canonical"))
        .select("doc_id", "cluster_size")
    )


_SHINGLES5_CTE = """
    toks5 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
      FROM toks5, UNNEST(range(1, greatest(len(w) - 3, 1))) AS t(i)
    )
"""


@query(
    "q82_decontamination",
    oracle=f"""
    WITH {_SHINGLES5_CTE},
    e AS (SELECT DISTINCT s FROM sh5 WHERE doc_id % 23 = 0),
    tr AS (SELECT doc_id, s FROM sh5 WHERE doc_id % 23 <> 0)
    SELECT CAST(tr.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM tr JOIN e USING (s)
    GROUP BY tr.doc_id
    """,
)
def q82_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the training-pipeline op that removes
    benchmark leakage: training docs sharing any 5-gram with the eval
    split (here doc_id % 23 = 0 stands in for the benchmark) are flagged
    with their shared-shingle count; the clean corpus is the anti join of
    this result. One shingle-key equi join: eval's distinct shingles are
    small relative to the corpus by construction (eval sets are
    bounded), so Catalyst/AQE broadcast them when they fit and shuffle
    otherwise — no driver collect either way. Boilerplate shingles that
    would fan out the join are exactly what q84 measures; feed its list
    as stop-shingles when eval text is web-scraped."""
    from hoops_edge_database_etl_spark.functions.text import shingles_from_tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sh = d.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), 5)).alias("s")
    )
    ev = sh.filter(F.col("doc_id") % 23 == 0).select("s").distinct()
    tr = sh.filter(F.col("doc_id") % 23 != 0)
    return (
        tr.join(ev, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "n_shared_shingles")
    )


@query(
    "q84_boilerplate_ngrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 1, 1))) AS t(i)
    ),
    df AS (SELECT s, COUNT(*) AS doc_freq FROM sh GROUP BY s),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT s AS shingle,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(doc_freq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS doc_frac
    FROM df, t
    WHERE CAST(doc_freq AS DOUBLE) / CAST(n_docs AS DOUBLE) >= 0.01
    """,
)
def q84_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram detector: 3-gram shingles whose document
    frequency exceeds 1% of the corpus — headers, footers, license
    blurbs. One map-side-combining shuffle on the shingle (each mapper
    emits one partial count per distinct shingle it saw — the hot
    shingle never concentrates rows, only counts). This list is the
    input to q42's ``max_shingle_freq`` stop-shingle cap and the
    decontamination join's exclusion list: the detector for the skew the
    dedup ladder must avoid."""
    from hoops_edge_database_etl_spark.functions.text import shingles_from_tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sh = d.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s")
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("doc_freq"))
    t = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    frac = F.col("doc_freq").cast("double") / F.col("n_docs").cast("double")
    return (
        df.crossJoin(F.broadcast(t))
        .filter(frac >= 0.01)
        .select(
            F.col("s").alias("shingle"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            frac.alias("doc_frac"),
        )
    )


# --- exact set-similarity join via prefix filtering (q154) ----------------

SSJ_T10 = 9  # Jaccard threshold in tenths: 0.9


def _xxhash64_injective(vocab: DataFrame) -> bool:
    """One aggregate over the (vocabulary-bounded) token frame: no two
    tokens share an xxhash64, and none hashes like the empty-string token
    that the sets may also hold (``vocab`` filters it out)."""
    chk = vocab.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("tok")).alias("nh"),
        F.max((F.xxhash64("tok") == F.xxhash64(F.lit(""))).cast("int")).alias("clash"),
    ).collect()[0]
    return chk["n"] == chk["nh"] and chk["clash"] != 1


@query(
    "q154_setsim_prefix_join",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
      FROM documents
    ),
    x AS (SELECT doc_id, t.tok FROM toks, UNNEST(s) AS t(tok) WHERE t.tok <> ''),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM x a JOIN x b ON b.tok = a.tok AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.da, c.db,
             len(list_intersect(ta.s, tb.s)) AS inter,
             len(ta.s) + len(tb.s) - len(list_intersect(ta.s, tb.s)) AS un
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.da
      JOIN toks tb ON tb.doc_id = c.db
    )
    SELECT da, db,
           CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) AS jaccard
    FROM v WHERE inter * 10 >= {SSJ_T10} * un
    """,
)
def q154_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs set-similarity join (token-set Jaccard ≥ 0.{t}) by
    PREFIX FILTERING (Chaudhuri et al., ICDE'06; the PPJoin family):
    sort each doc's token set by global rarity (ascending document
    frequency — rare tokens first), and index only the first
    m − ⌈t·m⌉ + 1 tokens: two sets meeting the threshold MUST share a
    prefix token (pigeonhole on the ⌈t·m⌉ overlap requirement), so the
    candidate join touches a sliver of the inverted index instead of
    every posting (the oracle generates candidates from ALL tokens —
    same final answer, which is precisely the losslessness claim under
    test). Verification is exact integer arithmetic: 10·|∩| ≥ {t}·|∪|.
    Completes the dedup spectrum: q42 (full inverted index), q43
    (MinHash, approximate), THIS (exact but sub-quadratic candidates).
    At 100 TB the prefix index is the only shuffled structure, and its
    size shrinks as t grows; hot tokens are already capped by the q84
    stop-shingle rule before they reach the index. (The synthetic
    corpus is the ADVERSARIAL case — a ~31-token vocabulary keeps every
    posting hot and genuinely contains ~1M qualifying pairs at sf0.1;
    Zipfian real vocabs are where the prefix sliver pays. The length
    filter below prunes candidates even here.)

    STATED broadcast contract (round-9 explode-broadcast sweep): the
    candidate join deliberately broadcasts the dictionary-encoded
    prefix index — groups x a prefix sliver, kept small HERE by the
    set-dedup stage — while the fan-out materializes in the 64-way
    re-spread probe partitions. A tok-keyed shuffle join on THIS
    corpus would be the q287 key-cardinality trap (~31 distinct
    tokens → a 2-3-partition join). At corpus scale, where the group
    count approaches the doc count and no broadcast fits, the form is
    the salted tok join (q287's (key, salt) grid) — salting by token,
    not switching to a plain tok shuffle, because hot prefix tokens
    are exactly the skew the stop-shingle cap doesn't remove."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("s")
    )
    # Dictionary-encode identical token SETS before anything quadratic
    # (bench r5: 0.56× candidates on this corpus, and the verify stage's
    # array joins run over DISTINCT sets — broadcastable here): crawl
    # corpora are full of exact set-duplicates, and every doc sharing a
    # set shares every candidate, verification, and result value.
    keyed = toks.select("doc_id", F.sort_array("s").alias("sk"))
    groups = keyed.groupBy("sk").agg(
        F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("cnt")
    )
    members = keyed.join(groups.select("sk", "gid"), "sk").select("doc_id", "gid")
    gsets = groups.select("gid", F.col("sk").alias("s"), "cnt")

    x = gsets.select("gid", F.explode("s").alias("tok")).filter(F.col("tok") != "")
    dfreq = x.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        x.join(F.broadcast(dfreq), "tok")
        .groupBy("gid")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("arr")
        )
        .select(
            "gid",
            F.transform("arr", lambda st: st["tok"]).alias("ordered"),
        )
    )
    m = F.size("ordered")
    plen = m - F.expr(f"(({SSJ_T10} * size(ordered) + 9) div 10)") + 1
    prefix = ranked.select(
        "gid", m.alias("m"), F.posexplode(F.slice("ordered", 1, plen)).alias("p0", "tok")
    ).select("gid", "m", (F.col("p0") + 1).alias("rn"), "tok")
    # The prefix index is tiny (|groups| × ~m/10 rows) so AQE coalesces it
    # to 1-2 partitions — but the JOIN FAN-OUT below is millions of rows,
    # and it materializes in the probe side's partitions. Re-spread the
    # probe side so the quadratic work runs wide, not on two tasks.
    a = prefix.select(
        F.col("gid").alias("ga"), F.col("m").alias("ma"), F.col("rn").alias("ra"), "tok"
    ).repartition(64, "ga")
    bb = prefix.select(
        F.col("gid").alias("gb"), F.col("m").alias("mb"), F.col("rn").alias("rb"), "tok"
    )
    # length filter (PPJoin canon): J >= t forces the smaller set to be at
    # least t times the larger — prunes candidates BEFORE the expensive
    # verify, which matters most on degenerate (tiny-vocab) corpora where
    # prefix postings alone stay hot. The POSITIONAL filter stacks on top:
    # all common tokens sit at rank >= this one's in both sets, so the
    # reachable overlap min(ma-ra, mb-rb)+1 must cover the threshold's
    # minimum overlap ceil(t·(ma+mb)/(1+t)) — a qualifying pair's FIRST
    # common token always passes, so keeping pairs with >=1 surviving row
    # is lossless (bench r5: 2.2× fewer rows into the distinct).
    # exact integer ceil: (t10·(ma+mb) + (10+t10) − 1) div (10+t10)
    min_overlap = F.expr(
        f"(({SSJ_T10} * (ma + mb) + {10 + SSJ_T10 - 1}) div {10 + SSJ_T10})"
    )
    cand = (
        a.join(
            bb,
            (a.tok == bb.tok)
            & (F.col("ga") < F.col("gb"))
            & (10 * F.least("ma", "mb") >= SSJ_T10 * F.greatest("ma", "mb"))
            & (
                F.least(F.col("ma") - F.col("ra"), F.col("mb") - F.col("rb")) + 1
                >= min_overlap
            ),
        )
        .select("ga", "gb")
        .distinct()
    )
    # r13 (guide §2.3 "narrower types" at the Python/JVM-GC boundary): the
    # verify stage materializes TWO token arrays per candidate pair —
    # ~1.7M pairs at sf0.1 — and with STRING arrays that allocation was
    # q154's intrinsic GC spread (r6-r12: official spreads to 2.3x; r8's
    # retry translated the 500k PER-DOC arrays and lost to the dictionary
    # cost). Re-encode only the ~4k GROUP sets as sorted xxhash64 LONG
    # arrays: |A∩B| and |A∪B| are invariant under any map that is
    # injective on the vocabulary, and injectivity is CHECKED here at
    # runtime (_xxhash64_injective). On a collision the verify falls back
    # to the exact string sets — slower, never wrong (none exists on any
    # fixture; at 1e9 tokens the birthday bound is ~5%, and the gate is
    # what makes the plan safe to run at that scale). Measured (fresh-JVM
    # A/B x2, ab_q154_r13.py, deleted; in git history at 953e8f3; and
    # OPTIMIZATION_r13.md): median
    # 4.46-5.59 -> 2.43-2.83 s AND spread [3.9, 16.3] -> [2.3, 3.3].
    if _xxhash64_injective(dfreq):
        es = F.sort_array(F.transform("s", lambda t: F.xxhash64(t)))
    else:
        es = F.col("s")  # already sorted: s is the group key sk
    enc = gsets.select("gid", es.alias("es"))
    sa = enc.select(F.col("gid").alias("ga"), F.col("es").alias("sa"))
    sb = enc.select(F.col("gid").alias("gb"), F.col("es").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    v = (
        cand.join(sa, "ga")
        .join(sb, "gb")
        .select("ga", "gb", inter.alias("inter"),
                (F.size("sa") + F.size("sb") - inter).alias("un"))
    )
    gpairs = v.filter(F.col("inter") * 10 >= SSJ_T10 * F.col("un")).select(
        "ga", "gb",
        (F.col("inter").cast("double") / F.col("un").cast("double")).alias("jaccard"),
    )
    # Expand group pairs back to doc pairs. Cross-group: Jaccard is a set
    # property — identical for every member combination. Within-group:
    # identical sets, J = 1 ≥ t by construction — but ONLY groups holding
    # at least one non-empty token (the all-empty set shares no indexable
    # token, so the inverted-index contract never pairs it).
    ma_t = members.select(F.col("gid").alias("ga"), F.col("doc_id").alias("xa"))
    mb_t = members.select(F.col("gid").alias("gb"), F.col("doc_id").alias("xb"))
    cross = (
        gpairs.join(ma_t, "ga")
        .join(mb_t, "gb")
        .select(
            F.least("xa", "xb").alias("da"),
            F.greatest("xa", "xb").alias("db"),
            "jaccard",
        )
    )
    nonempty = groups.filter(
        (F.col("cnt") > 1) & F.exists("sk", lambda t: t != "")
    ).select("gid")
    w1 = members.join(nonempty, "gid").select("gid", F.col("doc_id").alias("da"))
    w2 = members.join(nonempty, "gid").select("gid", F.col("doc_id").alias("db"))
    within = (
        w1.join(w2, "gid")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Asymmetric containment (q165): sub-/super-document detection. Jaccard
# misses a short doc fully embedded in a long one (|A∩B|/|A∪B| shrinks with
# the size gap); containment |A∩B|/|A| is the dedup signal for quote
# expansions, boilerplate-wrapped reposts, and truncated crawls.
# ---------------------------------------------------------------------------


@query(
    "q165_containment_dedup",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, CAST(COUNT(*) AS BIGINT) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i AS contained_doc, j AS container_doc,
           x.n AS n_shingles, c AS n_shared,
           CAST(c AS DOUBLE) / x.n AS containment
    FROM inter JOIN sz x ON x.doc_id = i
    WHERE c * 5 >= 3 * x.n
    """,
)
def q165_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs C(A→B) = |A∩B|/|A| ≥ 0.6 over distinct
    3-gram shingle sets (reference analogue: the r1 Jaccard family,
    `SURVEY.md §2` dedup ladder — this is its asymmetric sibling). The
    inverted-index plan is q42's: one shingle self-join builds |A∩B|,
    the per-doc set size joins in afterwards — but the threshold
    compares on the SMALLER side only, so the filter is the exact
    integer predicate 5·c ≥ 3·|A| (no float threshold drift between
    engines). Directed: both (A→B) and (B→A) rows can survive, and a
    near-equal pair emits both — that is the semantics (each direction
    answers "what fraction of THIS doc is elsewhere").

    100 TB: identical scale story to q42 — the self-join fan-out is the
    hazard and the stop-shingle cap / MinHash banding (q43) are the
    mitigations; containment additionally benefits from a length filter
    (|A| ≤ |B| is implied near threshold 1.0, so the candidate join can
    prune a.n > b.n/0.6 pairs — the PPJoin prefix trick q154 applies).
    Round 9 (live scale bug #9, found when THIS query pinned a (0+1)/1
    stage for >12 min at sf1): same two pins as ``jaccard_pairs`` —
    pre-explode repartition + SHUFFLE_HASH on the shingle self-join —
    because the size estimator broadcast the exploded side and
    serialized pair production onto the single-file scan's one task."""
    d = load(spark, sf_dir, "documents").repartition("doc_id")
    sh = d.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s")
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.hint("shuffle_hash")
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        inter.join(sz.withColumnRenamed("doc_id", "i"), "i")
        .filter(F.col("c") * 5 >= 3 * F.col("n"))
        .select(
            F.col("i").alias("contained_doc"),
            F.col("j").alias("container_doc"),
            F.col("n").alias("n_shingles"),
            F.col("c").alias("n_shared"),
            (F.col("c").cast("double") / F.col("n")).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Normalized ("near-exact") dedup (q175): canonicalize text BEFORE hashing.
# Exact dedup (q41) misses trivial variants — case, punctuation, whitespace
# runs; normalizing first catches the largest near-dup class at exact-dedup
# cost, which is why production pipelines (CCNet, Dolma, FineWeb) run
# normalized-hash dedup before any MinHash stage.
# ---------------------------------------------------------------------------


def normalized_dedup_clusters(d: DataFrame) -> DataFrame:
    """Clusters of documents identical after canonicalization (lowercase →
    strip non-alphanumerics → collapse whitespace runs → trim → md5):
    one row per cluster with >1 member, keyed by minimum doc_id. All
    JVM-side regex/string expressions; the shuffle key is the 16-byte
    hash (q41's scale story unchanged). First stage of the CCNet/Dolma
    recipe — NFKC or digit-folding is one more expression in this pass."""
    nh = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        d.select("doc_id", nh.alias("nh"))
        .groupBy("nh")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
    )


@query(
    "q175_normalized_dedup",
    oracle="""
    WITH n AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g'))) AS nh
      FROM documents
    ),
    x AS (
      SELECT source, nh,
             COUNT(*) OVER (PARTITION BY nh) AS nh_total,
             COUNT(*) OVER (PARTITION BY nh, source) AS nh_in_source
      FROM n
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT nh) AS BIGINT) AS n_norm_distinct,
           CAST(SUM(CASE WHEN nh_in_source > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within_dup_docs,
           CAST(SUM(CASE WHEN nh_total > nh_in_source THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source_docs
    FROM x GROUP BY source
    """,
)
def q175_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source normalized-dedup profile: how many documents survive
    canonicalized hashing (lowercase / strip punctuation / collapse
    whitespace → md5), how many are within-source duplicates, and how
    many also appear in ANOTHER source (syndicated boilerplate — the
    interesting cross-source signal). The cluster materialization itself
    is ``normalized_dedup_clusters`` (planted-variant semantics proven in
    tests — this corpus is dup-free by construction, so the profile's
    n_norm_distinct = n_docs row IS the meaningful assertion here).

    Shape: one scan computes the hash; the per-(nh) and per-(nh, source)
    multiplicities come from ONE shuffle on the 16-byte hash key; the
    per-source rollup is bounded output."""
    d = load(spark, sf_dir, "documents")
    nh = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    n = d.select("source", nh.alias("nh"))
    x = n.select(
        "source",
        "nh",
        F.count(F.lit(1)).over(Window.partitionBy("nh")).alias("nh_total"),
        F.count(F.lit(1)).over(Window.partitionBy("nh", "source")).alias("nh_in_source"),
    )
    return x.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("nh").cast("bigint").alias("n_norm_distinct"),
        F.sum(F.when(F.col("nh_in_source") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_within_dup_docs"),
        F.sum(F.when(F.col("nh_total") > F.col("nh_in_source"), 1).otherwise(0))
        .cast("bigint").alias("n_cross_source_docs"),
    )


@query(
    "q249_incremental_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
    ),
    vs_base AS (
      SELECT b.doc_id FROM batch b
      WHERE EXISTS (SELECT 1 FROM base x WHERE x.h = b.h)
    ),
    within AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM batch
      ) WHERE rn > 1
    ),
    dropped AS (
      SELECT doc_id FROM vs_base UNION SELECT doc_id FROM within
    )
    SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
           CASE WHEN d.doc_id IS NOT NULL THEN 'drop' ELSE 'admit' END AS verdict
    FROM batch b LEFT JOIN dropped d ON d.doc_id = b.doc_id
    """,
)
def q249_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup — the continuous-ingest shape: an
    arriving batch (doc_id ≥ 400 here) checks against the ALREADY-
    ADMITTED corpus index (a content-hash table, never the corpus
    text) plus itself, without ever re-comparing corpus × corpus:

    1. batch vs index: LEFT SEMI on the 16-byte hash — cost scales with
       |batch|, and at 100 TB the index side is a bloom-filtered
       hash-key join (q81's runtime-filter pattern), not a scan of
       history;
    2. batch vs batch: first-occurrence window WITHIN the batch only
       (q41's rule, batch-sized state);
    3. verdict per batch doc — 'admit' rows are what gets appended to
       both the corpus and the index, keeping the next increment's
       step 1 true.

    This is the operational difference between re-running q69 nightly
    (quadratic in corpus growth) and a constant-per-batch pipeline; the
    reference's checkpointed re-ingest (orchestrate.py:311-364) is the
    same admitted-set discipline at file granularity."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    base = d.filter(F.col("doc_id") < 400).select("h").distinct()
    batch = d.filter(F.col("doc_id") >= 400)
    vs_base = batch.join(base, "h", "left_semi").select("doc_id")
    w = Window.partitionBy("h").orderBy("doc_id")
    within = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    dropped = vs_base.union(within).distinct()
    return (
        batch.join(dropped.withColumnRenamed("doc_id", "drop_id"),
                   batch.doc_id == F.col("drop_id"), "left")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.when(F.col("drop_id").isNotNull(), "drop")
            .otherwise("admit")
            .alias("verdict"),
        )
    )


@query(
    "q308_lsh_recall_eval",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i, j FROM inter JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
      WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5
    ),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key
                             AND a.doc_id < b.doc_id
    ),
    hits AS (SELECT t.i, t.j FROM truth t JOIN cand c ON c.i = t.i AND c.j = t.j)
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM hits) * 1000000
                // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_ppm,
           CAST((SELECT COUNT(*) FROM hits) * 1000000
                // (SELECT COUNT(*) FROM cand) AS BIGINT) AS precision_ppm
    """,
)
def q308_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP QUALITY GATE — measures the MinHash-LSH candidate generator
    (q43, the 100 TB path) against exact n-gram Jaccard ground truth
    (q42, the sf-scale oracle): recall = how many true J >= 0.5 pairs
    the bands caught, precision = how many candidates are true — the
    dedup family's twin of q251's ANN recall gate, and the number that
    decides whether 4x2 banding is safe to ship before a corpus run.
    Both lineages are the REGISTERED queries re-invoked (not
    re-implementations), so this gate inherits any fix or regression
    in either; ratios are integer ppm (floor division on both
    engines). The eval itself adds one pair-key equi-join and three
    scalar counts — at corpus scale the exact side is sampled, the
    LSH side is production."""
    d = load(spark, sf_dir, "documents")
    # both lineages feed TWO consumers each (the hit join and their own
    # scalar count) — checkpoint the pair sets so the exact-Jaccard and
    # MinHash pipelines over documents each run once (r11 fact-rescan
    # audit: 12 scans -> 2)
    truth = (
        jaccard_pairs(d, threshold=0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    cand = (
        q43_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    hits = truth.join(cand, ["doc_a", "doc_b"])
    n_t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_h = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        n_t.crossJoin(n_c)
        .crossJoin(n_h)
        .select(
            F.col("n_truth").cast("bigint"),
            F.col("n_candidates").cast("bigint"),
            F.col("n_hits").cast("bigint"),
            F.expr("n_hits * 1000000 DIV n_truth").cast("bigint").alias("recall_ppm"),
            F.expr("n_hits * 1000000 DIV n_candidates")
            .cast("bigint")
            .alias("precision_ppm"),
        )
    )


@query(
    "q335_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    split AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                  1, 8) AS BIGINT) % 100 < 80 AS is_train
      FROM documents
    ),
    train_sh AS (
      SELECT DISTINCT sh.s FROM sh JOIN split ON split.doc_id = sh.doc_id
      WHERE split.is_train
    ),
    test_sh AS (
      SELECT DISTINCT d.lang, sh.s
      FROM sh JOIN split ON split.doc_id = sh.doc_id
      JOIN documents d ON d.doc_id = sh.doc_id
      WHERE NOT split.is_train
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_test_shingles,
           CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_seen_in_train,
           CAST(SUM(CASE WHEN tr.s IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM test_sh t LEFT JOIN train_sh tr ON tr.s = t.s
    GROUP BY t.lang
    """,
)
def q335_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY — the memorization lens the doc-level gates miss:
    q82/q138 ask "is this TEST DOCUMENT leaked?"; this asks what
    fraction of the holdout's 3-gram PHRASES exist anywhere in train —
    the statistic used to audit whether generated text is recombining
    or parroting (low novelty on a model's samples = memorization),
    and to judge a benchmark's real difficulty. Splits reuse q68's
    exact md5 doc split, shingles reuse q42's 3-gram machinery, so the
    number is consistent with the rest of the corpus pipeline by
    construction. Plan: distinct train shingles (hash-sized shuffle
    key), one left join from the distinct per-lang test shingles,
    ppm floor division. At 100 TB the train side is the big set —
    it arrives pre-hashed on the join key, and a q81-style bloom
    prefilter drops the obviously-novel majority before the
    shuffle."""
    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    ).select(
        "doc_id", "lang", F.explode(shingles_from_tokens(F.col("w"), 3)).alias("s")
    )
    is_train = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        < 80
    )
    tagged = sh.withColumn("is_train", is_train)
    train_sh = tagged.filter("is_train").select("s").distinct()
    test_sh = tagged.filter(~F.col("is_train")).select("lang", "s").distinct()
    j = test_sh.join(
        train_sh.withColumn("seen", F.lit(1)), "s", "left"
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_shingles"),
        F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_seen_in_train"),
        F.expr(
            "SUM(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*)"
        )
        .cast("bigint")
        .alias("novelty_ppm"),
    )


@query(
    "q344_lsh_s_curve",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT i, j,
             CAST(floor(CAST(c AS DOUBLE) / (x.n + y.n - c) * 10) AS BIGINT)
               AS bucket
      FROM inter JOIN sz x ON x.doc_id = i JOIN sz y ON y.doc_id = j
    ),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key
                             AND a.doc_id < b.doc_id
    )
    SELECT t.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS catch_ppm,
           1 - (1 - ((CAST(t.bucket AS DOUBLE) + 0.5) / 10)
                    * ((CAST(t.bucket AS DOUBLE) + 0.5) / 10))
             * (1 - ((CAST(t.bucket AS DOUBLE) + 0.5) / 10)
                    * ((CAST(t.bucket AS DOUBLE) + 0.5) / 10))
             * (1 - ((CAST(t.bucket AS DOUBLE) + 0.5) / 10)
                    * ((CAST(t.bucket AS DOUBLE) + 0.5) / 10))
             * (1 - ((CAST(t.bucket AS DOUBLE) + 0.5) / 10)
                    * ((CAST(t.bucket AS DOUBLE) + 0.5) / 10)) AS theory_mid
    FROM truth t LEFT JOIN cand c ON c.i = t.i AND c.j = t.j
    GROUP BY t.bucket
    """,
)
def q344_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-CURVE calibration — q308 grades the one shipped config;
    this measures the whole CURVE: for every exact-Jaccard decile of
    truly-overlapping pairs, the empirical probability that 4x2
    banding catches the pair, next to the theory 1−(1−s²)⁴ at the
    bucket midpoint. Where empirical sags under theory, the MinHash
    independence assumption is being strained by your data (few
    shingles per doc, skewed shingle frequencies) — THE diagnostic
    for choosing (bands, rows) before a 100 TB dedup run. The theory
    column expands the polynomial as literal multiplications (never
    pow(), whose exp·log path needn't round identically across
    engines — the transcendental ban applied to an innocent-looking
    builtin). Bucketing floors 10·jaccard on identical doubles;
    catch rates are ppm floor division. Cost: q42's exact pair scan
    (the sampled side at corpus scale) + q43's candidate set + one
    pair-keyed left join."""
    d = load(spark, sf_dir, "documents")
    truth = (
        jaccard_pairs(d, threshold=0.0)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("jaccard") * 10).cast("long").alias("bucket"),
        )
    )
    cand = (
        q43_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("caught", F.lit(1))
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "left")
    s_mid = (F.col("bucket").cast("double") + 0.5) / 10
    one_minus_s2 = 1 - s_mid * s_mid
    theory = 1 - one_minus_s2 * one_minus_s2 * one_minus_s2 * one_minus_s2
    return j.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("caught").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_caught"),
        F.expr(
            "SUM(CASE WHEN caught IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*)"
        )
        .cast("bigint")
        .alias("catch_ppm"),
        F.first(theory).alias("theory_mid"),
    )


@query(
    "q381_dup_cluster_histogram",
    oracle="""
    WITH feed AS (
      -- replayed-ingest fixture: docs hashing 0 mod 7 arrive twice more
      SELECT text FROM documents
      UNION ALL
      SELECT text FROM documents, (SELECT 1 AS r UNION ALL SELECT 2) dup
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dup'),
                 1, 8) AS BIGINT) % 7 = 0
    ),
    clusters AS (
      SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM feed GROUP BY md5(text)
    ),
    hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM clusters GROUP BY cluster_size
    ),
    tot AS (
      SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT) AS n_docs FROM hist
    )
    SELECT h.cluster_size, h.n_clusters,
           CAST(h.cluster_size * h.n_clusters AS BIGINT) AS n_docs_in_bucket,
           CAST((h.cluster_size - 1) * h.n_clusters AS BIGINT)
             AS removable_docs,
           CAST(h.cluster_size * h.n_clusters * 1000000 // t.n_docs AS BIGINT)
             AS share_ppm
    FROM hist h, tot t
    """,
)
def q381_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-CLUSTER SIZE HISTOGRAM — the shape report a dedup run
    files before deleting anything: how many exact-content clusters of
    each size exist (a replayed-ingest fixture triples an md5-chosen
    1/7 of docs so the histogram has a dup tail to report), how many docs they hold, and the REMOVABLE count
    (size − 1 per cluster — what q41's keep-one policy will actually
    delete). Web-scale corpora show heavy-tailed cluster sizes (a few
    boilerplate pages duplicated millions of times dominate the
    savings), and this histogram is how you see that before
    committing — plus the capacity-planning number: Σ removable is
    the exact byte-recovery forecast's numerator. Two grouped counts
    (hash → size, size → bucket) + a broadcast total; the content
    hash keeps the shuffle key 16 bytes (q41's rule). The property
    test reconciles Σ n_docs_in_bucket with the corpus and
    Σ removable with q41's is_dup count — the histogram and the
    dedup must tell one story."""
    d = load(spark, sf_dir, "documents")
    dup_sel = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":dup"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 7
        == 0
    )
    extra = (
        d.filter(dup_sel)
        .select("text")
        .crossJoin(spark.createDataFrame([(1,), (2,)], "r int"))
        .select("text")
    )
    feed = d.select("text").unionAll(extra)
    clusters = feed.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    hist = clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    tot = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs")
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs_in_bucket"),
        ((F.col("cluster_size") - 1) * F.col("n_clusters"))
        .cast("bigint")
        .alias("removable_docs"),
        F.expr("cluster_size * n_clusters * 1000000 DIV n_docs")
        .cast("bigint")
        .alias("share_ppm"),
    )


@query(
    "q391_candidate_transitivity",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key
                             AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT i, j FROM cand UNION ALL SELECT j, i FROM cand),
    wedges AS (
      SELECT x.j AS apex, x.i AS u, y.j AS v
      FROM sym x JOIN sym y ON y.i = x.j AND x.i < y.j
    ),
    closed AS (
      SELECT w.apex, w.u, w.v,
             CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END AS is_closed
      FROM wedges w LEFT JOIN cand c ON c.i = w.u AND c.j = w.v
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_wedges,
           CAST(SUM(is_closed) AS BIGINT) AS n_closed,
           CAST(SUM(is_closed) * 1000000 // GREATEST(COUNT(*), 1) AS BIGINT)
             AS closure_ppm
    FROM closed
    """,
)
def q391_candidate_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE-GRAPH TRANSITIVITY — the audit between pair generation
    (q43) and cluster formation (q62): connected components will
    TRANSITIVELY merge a~b and b~c into one cluster whether or not
    a~c holds, so the fraction of open wedges (a~b~c without a~c)
    measures how much the clustering step ASSERTS beyond what LSH
    observed — low closure means chains of borderline pairs are
    welding unrelated docs into mega-clusters (the dedup disaster
    mode: one hub doc bridges two real groups and both get deleted
    to one survivor). Wedge enumeration is q118's triangle machinery
    on the candidate graph (symmetrized join on the shared apex);
    closure checks are one left join back to the pair set; ppm floor
    division. Read with q308 (recall/precision) and q344 (S-curve),
    this completes the LSH quality triptych: how many, how right,
    how coherent."""
    cand = (
        q43_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_a").alias("i"), F.col("doc_b").alias("j"))
        .distinct()
    )
    # the candidate pair set feeds both symmetrization legs, the
    # closure join, and the pair count — without a checkpoint the whole
    # q43 MinHash pipeline (shingle + signature over documents)
    # re-executes four times (r11 fact-rescan audit: 12 scans -> 1)
    cand = cand.localCheckpoint(eager=False)
    sym = cand.unionAll(cand.select(F.col("j").alias("i"), F.col("i").alias("j")))
    x = sym.select(F.col("j").alias("apex"), F.col("i").alias("u"))
    y = sym.select(F.col("i").alias("apex2"), F.col("j").alias("v"))
    wedges = x.join(
        y, (F.col("apex") == F.col("apex2")) & (F.col("u") < F.col("v"))
    ).select("apex", "u", "v")
    closed = wedges.join(
        cand.select(F.col("i").alias("u"), F.col("j").alias("v")).withColumn(
            "hit", F.lit(1)
        ),
        ["u", "v"],
        "left",
    )
    n_pairs = cand.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    stats = closed.agg(
        F.count(F.lit(1)).cast("long").alias("n_wedges"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_closed"),
    )
    return n_pairs.crossJoin(F.broadcast(stats)).selectExpr(
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(n_wedges AS BIGINT) AS n_wedges",
        "CAST(n_closed AS BIGINT) AS n_closed",
        "CAST(n_closed * 1000000 DIV GREATEST(n_wedges, 1) AS BIGINT)"
        " AS closure_ppm",
    )


@query(
    "q440_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    und AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM band a JOIN band b
        ON a.b = b.b AND a.key = b.key AND a.doc_id <> b.doc_id
    ),
    lab(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.src, l.lbl FROM lab l JOIN und u ON u.dst = l.node
      WHERE l.lbl < u.src
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM lab GROUP BY node),
    assign AS (
      SELECT doc_id, cluster_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 2 THEN 'test'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 5 THEN 'val'
                  ELSE 'train' END AS naive_split,
             CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 2 THEN 'test'
                  WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 5 THEN 'val'
                  ELSE 'train' END AS safe_split
      FROM comp
    ),
    pairs AS (SELECT src, dst FROM und WHERE src < dst),
    leak AS (
      SELECT
        CAST(SUM(CASE WHEN a1.naive_split <> a2.naive_split THEN 1 ELSE 0 END)
             AS BIGINT) AS naive_cross,
        CAST(SUM(CASE WHEN a1.safe_split <> a2.safe_split THEN 1 ELSE 0 END)
             AS BIGINT) AS safe_cross
      FROM pairs p
      JOIN assign a1 ON a1.doc_id = p.src
      JOIN assign a2 ON a2.doc_id = p.dst
    )
    -- densify to the DECLARED 2x3 spine (round 9): an empty split is a
    -- zero row, never a missing one
    SELECT g.scheme, g.split, CAST(COALESCE(s.n_docs, 0) AS BIGINT) AS n_docs,
           CASE WHEN g.scheme = 'naive' THEN l.naive_cross
                ELSE l.safe_cross END AS cross_pairs
    FROM (VALUES ('naive', 'train'), ('naive', 'val'), ('naive', 'test'),
                 ('cluster_safe', 'train'), ('cluster_safe', 'val'),
                 ('cluster_safe', 'test')) AS g(scheme, split)
    LEFT JOIN (
      SELECT 'naive' AS scheme, naive_split AS split,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assign GROUP BY naive_split
      UNION ALL
      SELECT 'cluster_safe', safe_split, CAST(COUNT(*) AS BIGINT)
      FROM assign GROUP BY safe_split
    ) s ON s.scheme = g.scheme AND s.split = g.split
    CROSS JOIN leak l
    """,
)
def q440_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-SAFE TRAIN/VAL/TEST SPLIT — the leakage fix q68's
    doc-level split cannot provide: hashing each DOCUMENT into a split
    sends near-duplicates of training docs into the test set (the
    contamination q82/q138 decontaminate after the fact), while
    hashing each near-dup CLUSTER (q62's connected components over the
    MinHash-LSH candidate graph) keeps every duplicate family on one
    side BY CONSTRUCTION. The output quantifies exactly that: for both
    schemes, per-split doc counts plus the number of candidate
    near-dup pairs that CROSS split boundaries — nonzero for the
    naive scheme on this corpus, and structurally ZERO for the
    cluster-safe scheme (same cluster ⇒ same hash input ⇒ same split;
    the pytest property asserts it, and the composed lineage means
    q43's banding, q62's components, and q293's split rule are all
    re-verified through one more hash). Scale: the split adds one
    md5-mod per doc on top of q62's clustering — nothing new
    shuffles; the leakage audit joins the (small) candidate-pair set
    against the assignment twice, both sides hash-partitioned on
    doc_id. The banding pipeline runs ONCE: the candidate pairs are
    materialized first and the components derive from them via the q62
    operator (calling q62 for clusters AND q43 for pairs would re-run
    the MinHash signatures twice — the kind of silent recompute a
    100 TB pipeline cannot afford)."""
    from hoops_edge_database_etl_spark.operators.cc import (
        connected_components_labelprop,
    )

    edges = (
        q43_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    cc = connected_components_labelprop(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    all_docs = load(spark, sf_dir, "documents").select("doc_id")
    comp = all_docs.join(cc, all_docs.doc_id == cc.node, "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
    )

    def bucket(col: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(col).cast("string"), F.lit(":split"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 100
        )

    def split_of(col: str):
        b = bucket(col)
        return (
            F.when(b < 2, "test").when(b < 5, "val").otherwise("train")
        )

    assign = comp.select(
        "doc_id",
        "cluster_id",
        split_of("doc_id").alias("naive_split"),
        split_of("cluster_id").alias("safe_split"),
    ).localCheckpoint(eager=True)
    pairs = edges.filter(F.col("doc_a") < F.col("doc_b"))
    a1 = assign.select(
        F.col("doc_id").alias("doc_a"),
        F.col("naive_split").alias("n1"),
        F.col("safe_split").alias("s1"),
    )
    a2 = assign.select(
        F.col("doc_id").alias("doc_b"),
        F.col("naive_split").alias("n2"),
        F.col("safe_split").alias("s2"),
    )
    leak = (
        pairs.join(a1, "doc_a")
        .join(a2, "doc_b")
        .agg(
            F.sum(F.when(F.col("n1") != F.col("n2"), 1).otherwise(0))
            .cast("long")
            .alias("naive_cross"),
            F.sum(F.when(F.col("s1") != F.col("s2"), 1).otherwise(0))
            .cast("long")
            .alias("safe_cross"),
        )
    )
    naive = assign.groupBy(F.col("naive_split").alias("split")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(F.lit("naive").alias("scheme"), "split", "n_docs")
    safe = assign.groupBy(F.col("safe_split").alias("split")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select(F.lit("cluster_safe").alias("scheme"), "split", "n_docs")
    # densify to the DECLARED 2x3 spine (round 9, the q215/q158/q214/
    # q219 class): an empty split — the release gate's loudest failure,
    # "the test set has zero documents" — must be a zero row, not a
    # missing one
    spine = spark.createDataFrame(
        [(sch, sp) for sch in ("naive", "cluster_safe")
         for sp in ("train", "val", "test")],
        "scheme string, split string",
    )
    cells = spine.join(naive.unionByName(safe), ["scheme", "split"], "left")
    return (
        cells.crossJoin(F.broadcast(leak))
        .select(
            "scheme",
            "split",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.when(F.col("scheme") == "naive", F.col("naive_cross"))
            .otherwise(F.col("safe_cross"))
            .alias("cross_pairs"),
        )
    )


@query(
    "q450_corpus_release_manifest",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM sh
    ),
    sig AS (
      SELECT doc_id, c.i, MIN((c.a * h + c.b) % {MINHASH_P}) AS m
      FROM hashed CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(i, a, b)
      GROUP BY doc_id, c.i
    ),
    band AS (
      SELECT doc_id, i // 2 AS b,
             md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS key
      FROM sig GROUP BY doc_id, i // 2
    ),
    und AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM band a JOIN band b
        ON a.b = b.b AND a.key = b.key AND a.doc_id <> b.doc_id
    ),
    lab(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.src, l.lbl FROM lab l JOIN und u ON u.dst = l.node
      WHERE l.lbl < u.src
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM lab GROUP BY node),
    enriched AS (
      SELECT d.doc_id, d.lang, c.cluster_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 2 THEN 'test'
                  WHEN CAST('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)
                      || ':split'), 1, 8) AS BIGINT) % 100 < 5 THEN 'val'
                  ELSE 'train' END AS split,
             CAST(len(list_filter(string_split(d.text, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tokens,
             d.doc_id <> c.cluster_id AS is_dup,
             CAST('0x' || substr(md5(d.text), 1, 15) AS BIGINT)
               % 2147483647 AS th
      FROM documents d JOIN comp c ON c.doc_id = d.doc_id
    ),
    cells AS (
      SELECT split, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000000
                  // COUNT(*) AS BIGINT) AS dup_rate_ppm,
             CAST(CAST(SUM(CAST(th AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  % 9223372036854775807 AS BIGINT) AS fingerprint
      FROM enriched
      GROUP BY split, lang
    )
    -- densify to splits x corpus languages (round 9): a language with
    -- ZERO documents in a split is the release gate's signal ("no test
    -- coverage for lang X"), reported as an explicit zero cell with
    -- fingerprint 0, never a missing row
    SELECT g.split, g.lang,
           COALESCE(c.n_docs, 0) AS n_docs,
           COALESCE(c.n_tokens, 0) AS n_tokens,
           COALESCE(c.n_dups, 0) AS n_dups,
           COALESCE(c.dup_rate_ppm, 0) AS dup_rate_ppm,
           COALESCE(c.fingerprint, 0) AS fingerprint
    FROM (SELECT l.lang, s.split
          FROM (SELECT DISTINCT lang FROM documents) l
          CROSS JOIN (VALUES ('train'), ('val'), ('test')) s(split)) g
    LEFT JOIN cells c ON c.split = g.split AND c.lang = g.lang
    """,
)
def q450_corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS RELEASE MANIFEST — the artifact a training-data release
    actually ships, and the registry's 450th entry: per (split ×
    language) cell, document and token counts, near-duplicate counts
    and rate, and the q286 commutative content fingerprint — with
    every ingredient COMPOSED from an already-verified lineage:
    splits are q440's cluster-safe assignment (q62's LSH components
    hashed by cluster, so no near-dup pair straddles a split), dup
    flags are q62's non-canonical members, token counts share q51/
    q110's whitespace tokenizer, and the fingerprint is q286/q293's
    order-free Σh mod M in DECIMAL(38,0) (legal under any
    partitioning AND as a streaming aggregate). One hash therefore
    re-certifies five registered machines end-to-end — the manifest
    IS the integration test, and downstream consumers can verify
    their copy by recomputing three integers per cell. Scale: one
    pass over documents beyond the (candidate-pair-sized) clustering;
    everything aggregates map-side. Property tests: totals reconcile
    with q440's per-split doc counts; dup_rate is in ppm and matches
    n_dups/n_docs; per-cell fingerprints differ (no accidental
    constant)."""
    comp = q62_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    d = load(spark, sf_dir, "documents")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("cluster_id").cast("string"), F.lit(":split"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    th = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint")
        % 2147483647
    )
    enriched = d.join(comp, "doc_id").select(
        "lang",
        F.when(b < 2, "test").when(b < 5, "val").otherwise("train").alias("split"),
        F.size(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).cast("long").alias("n_tokens"),
        (F.col("doc_id") != F.col("cluster_id")).alias("is_dup"),
        th.alias("th"),
    )
    cells = enriched.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dups"),
        F.expr(
            "CAST(SUM(CAST(is_dup AS BIGINT)) * 1000000 div count(1) AS BIGINT)"
        ).alias("dup_rate_ppm"),
        F.expr(
            "CAST(CAST(SUM(CAST(th AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " % 9223372036854775807 AS BIGINT)"
        ).alias("fingerprint"),
    )
    # densify to splits x corpus languages (round 9, the q215/q158/q214/
    # q219 class): "language X has zero test documents" is the gate's
    # loudest finding — an explicit zero cell (fingerprint 0 declared
    # for the empty cell), never a missing row
    spine = (
        d.select("lang")
        .distinct()
        .crossJoin(
            spark.createDataFrame(
                [("train",), ("val",), ("test",)], "split string"
            )
        )
    )
    zero = F.lit(0).cast("long")
    return spine.join(cells, ["split", "lang"], "left").select(
        "split",
        "lang",
        F.coalesce("n_docs", zero).alias("n_docs"),
        F.coalesce("n_tokens", zero).alias("n_tokens"),
        F.coalesce("n_dups", zero).alias("n_dups"),
        F.coalesce("dup_rate_ppm", zero).alias("dup_rate_ppm"),
        F.coalesce("fingerprint", zero).alias("fingerprint"),
    )
