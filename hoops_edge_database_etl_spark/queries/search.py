"""Search-index operators: inverted-index materialization and positional
phrase search — the IR layer a corpus store serves retrieval from.

Reference tie-in: the reference's gold layer materializes lookup tables
keyed by entity for downstream reads (`src/cbbd_etl/gold/*`); an inverted
index is the same materialize-for-reads pattern with term keys. Both
queries here are exact and DuckDB-oracled.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load


@query(
    "q235_inverted_index",
    oracle="""
    WITH pos AS (
      SELECT doc_id, t.i AS i, l[t.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(generate_series(1, len(l))) AS t(i)
    )
    SELECT w AS term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS cf,
           string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)) AS postings
    FROM pos GROUP BY w
    """,
)
def q235_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED-INDEX materialization: term → (document frequency,
    collection frequency, sorted posting list). One explode + one
    term-keyed aggregate; the posting list builds via collect_set →
    array_sort → join, all JVM-side. Term keys are the classic skew
    (stopwords own huge postings) — at 100 TB the high-df terms are
    exactly the ones a search tier stoplists, and the aggregate is
    still a single exchange with map-side combine because postings
    merge associatively. Postings ship as a comma-joined string (the
    serialized form an index segment would store); df/cf are the
    statistics BM25/idf scoring reads without touching postings."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return d.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"),
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.array_join(
            F.array_sort(F.collect_set(F.col("doc_id").cast("string"))), ","
        ).alias("postings"),
    )


@query(
    "q236_phrase_search",
    oracle="""
    WITH pos AS (
      SELECT doc_id, t.i AS i, l[t.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           unnest(generate_series(1, len(l))) AS t(i)
    )
    SELECT CAST(p1.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pos p1
    JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.i = p1.i + 1
    WHERE p1.w = 'table' AND p2.w = 'value'
    GROUP BY p1.doc_id
    """,
)
def q236_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL PHRASE SEARCH — the two-term positional-index
    intersection ("table value" as adjacent words): filter each term's
    positional postings FIRST, then join on (doc, pos+1). Spark pushes
    both term filters into the exploded stream before the join, so the
    join inputs are |postings(term)| rows, not corpus positions — the
    classic reason phrase queries run on positional postings instead of
    re-scanning text. Substring LIKE cannot express this correctly
    (word boundaries, overlapping separators); the positional join is
    exact. At 100 TB: two slim filtered streams shuffle on doc_id —
    bounded by the rarer term's collection frequency. Round 9 (the
    live-bug-#9 static sweep): that shuffle must be PINNED — a term's
    postings are corpus-proportional, but the size estimator prices the
    filtered explode from file bytes and was broadcasting one side, so
    a stopword-scale term becomes a broadcast failure instead of the
    slim co-partitioned join; positions are unique per (doc, i), so the
    shuffle-hash join has no skew by construction. The doc side also
    respreads past the single-file scan before the position explode."""
    d = load(spark, sf_dir, "documents").repartition("doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    p1 = d.filter(F.col("w") == "table").select("doc_id", F.col("i").alias("i1"))
    p2 = d.filter(F.col("w") == "value").select(
        F.col("doc_id").alias("doc_id2"), F.col("i").alias("i2")
    )
    return (
        p1.hint("shuffle_hash")
        .join(
            p2,
            (p1.doc_id == p2.doc_id2) & (p2.i2 == p1.i1 + 1),
        )
        .groupBy(F.col("doc_id").cast("bigint").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )


# Three deterministic "rankers" over parts: revenue, quantity, order-count.
_BORDA_TOP_N = 15


def _borda_rankers_sql() -> str:
    return """
      SELECT l_partkey,
             ROW_NUMBER() OVER (ORDER BY SUM(CAST(floor(l_extendedprice * 100
               + 0.5) AS BIGINT)) DESC, l_partkey) AS r1,
             ROW_NUMBER() OVER (ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC,
               l_partkey) AS r2,
             ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT l_orderkey) DESC,
               l_partkey) AS r3
      FROM lineitem GROUP BY l_partkey
    """


@query(
    "q401_rank_aggregation",
    oracle=f"""
    WITH ranked AS ({_borda_rankers_sql()}),
    scored AS (
      SELECT l_partkey, r1, r2, r3,
             CAST(r1 + r2 + r3 AS BIGINT) AS borda_cost
      FROM ranked
    )
    SELECT l_partkey, r1, r2, r3, borda_cost,
           CAST(ROW_NUMBER() OVER (ORDER BY borda_cost, l_partkey) AS BIGINT)
             AS final_rank
    FROM scored
    ORDER BY borda_cost, l_partkey LIMIT {_BORDA_TOP_N}
    """,
)
def q401_rank_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BORDA RANK AGGREGATION — the voting-theory baseline for merging
    rankers (q247's RRF is Borda with reciprocal weights; q265's RBO
    COMPARES rankings, Borda COMBINES them): three single-criterion
    part rankings (revenue, units, breadth-of-orders) fuse by summed
    rank positions, the social-choice method that needs no score
    calibration across rankers — only positions, which makes it the
    safe merge when one ranker's scores are cents and another's are
    counts (the scale-mismatch that breaks naive score averaging).
    Pure integer positions with part-key tiebreaks end-to-end. r10
    (global-window audit): the three criterion ranks were global
    row_number windows over the catalog-sized part aggregate — the
    entity-rank hazard class — and now run as chained
    operators.rowids.stable_row_ids passes; final_rank moves AFTER the
    TakeOrdered so its window ranks only the bounded top-15
    slice (row_number over an already-globally-ordered limit is the
    same assignment). Condorcet caveat in the docstring where it
    belongs: Borda can violate majority preference — when that
    matters, the pairwise Copeland matrix is these same ranks
    self-joined."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.countDistinct("l_orderkey").cast("long").alias("brd"),
    )
    # Each stable_row_ids pass reads its input twice (local ranks +
    # range counts), so three chained passes re-executed this per-part
    # rollup — and the lineitem scan under it — up to 15x (r11
    # fact-rescan audit). One lazy checkpoint of the |parts|-row rollup
    # makes every pass read the materialized table instead.
    agg = agg.localCheckpoint(eager=False)
    scored = stable_row_ids(agg, [F.col("rev").desc(), "l_partkey"], id_col="r1", start=1)
    scored = stable_row_ids(scored, [F.col("qty").desc(), "l_partkey"], id_col="r2", start=1)
    scored = stable_row_ids(scored, [F.col("brd").desc(), "l_partkey"], id_col="r3", start=1)
    scored = scored.select(
        "l_partkey", "r1", "r2", "r3"
    ).withColumn(
        "borda_cost", (F.col("r1") + F.col("r2") + F.col("r3")).cast("long")
    )
    wf = Window.orderBy("borda_cost", "l_partkey")
    return (
        scored.orderBy("borda_cost", "l_partkey")
        .limit(_BORDA_TOP_N)
        .withColumn("final_rank", F.row_number().over(wf).cast("long"))
        .select(
            "l_partkey",
            "r1",
            "r2",
            "r3",
            F.col("borda_cost").cast("bigint"),
            F.col("final_rank").cast("bigint"),
        )
    )


@query(
    "q408_kendall_tau",
    oracle="""
    WITH agg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS rev,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey
    ),
    pairs AS (
      SELECT CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) > 0 THEN 1
                  WHEN (a.rev - b.rev) * (a.qty - b.qty) < 0 THEN -1
                  ELSE 0 END AS sgn,
             CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_x,
             CASE WHEN a.qty = b.qty THEN 1 ELSE 0 END AS tie_y
      FROM agg a JOIN agg b ON a.l_partkey < b.l_partkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(SUM(tie_x) AS BIGINT) AS ties_x,
             CAST(SUM(tie_y) AS BIGINT) AS ties_y
      FROM pairs
    )
    SELECT n_pairs, conc, disc, ties_x, ties_y,
           CAST(conc - disc AS DOUBLE)
             / (sqrt(CAST(n_pairs - ties_x AS DOUBLE))
                * sqrt(CAST(n_pairs - ties_y AS DOUBLE))) AS tau_b
    FROM s
    """,
)
def q408_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S τ-b — full-ranking concordance between two part
    orderings (revenue vs units): q265's RBO weighs the TOP of two
    lists; τ counts every pair — concordant minus discordant over the
    tie-corrected geometric denominator, the rank correlation with a
    clean probabilistic reading (P(agree) − P(disagree) on a random
    pair). Everything to the final division is exact integers and the
    sqrt pair is the IEEE-exempt transcendental.

    Round 10: the O(n²) pair join (185 s at sf1 — 20B pairs for ONE
    scalar output) is replaced by the O(n log n) Knight form the old
    docstring only NAMED. The oracle stays the O(n²) SQL, so the hash
    gate certifies the rewrite end-to-end. Decomposition (all exact
    int64):
      n0 = n(n−1)/2, n1/n2/n3 = Σ m(m−1)/2 over rev / qty / (rev,qty)
      tie groups — plain distributed groupBy aggregates;
      D (discordant) = Σ c_a·c_b over value-group pairs with
      rev_a<rev_b AND qty_a>qty_b — a weighted 2-D dominance count:
      range-partition the per-part aggregate on (rev, qty), count
      within-partition dominance pairs with a vectorized weighted
      mergesort per partition (numpy, mapInPandas), and count
      cross-partition pairs with a grp-window cumulative sum over
      qty-grouped counts (partitions are rev-ordered, so only the qty
      comparison remains; rev-ties that span a boundary are ordered
      qty-ascending by the range sort, so the strict qty_a>qty_b test
      excludes them automatically — same argument within a partition).
      Then conc = n0−n1−n2+n3−D, disc = D (the exhaustive pair-class
      identity: every pair is concordant, discordant, x-tie-only,
      y-tie-only, or both-tie).
    The D branch is ONE evaluation end-to-end (the own/earlier rows
    come from a single explode, never a self-union) because range
    boundaries are sampled per evaluation — two legs could bin pairs
    differently and double-count. Memory honesty (r10 ADVICE): the
    mergesort kernel materializes its range partition (~|parts|/P
    rows) per task — the single-reducer funnel is removed, but P must
    scale with |parts| on a real cluster; the cross-partition fan is
    O(cells·P), so P grows with the entity count, not the corpus
    (parts ≪ lineitems — the per-part rollup is already the reduced
    table). The tie branches re-aggregate the
    linear per-part rollup independently; they are value-pure, so
    boundary drift cannot affect them. Property-tested against
    scipy-formula recomputation and ±1 on planted perfectly-agreeing/
    reversed rankings."""
    import pandas as pd  # noqa: F401

    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    # Five scalar branches (n0/n1/n2/n3/D) consume this aggregate; without
    # a checkpoint each one re-scans and re-aggregates the FACT table —
    # the dominant linear cost at corpus scale, paid 5x. localCheckpoint
    # materializes the |parts|-row rollup once (lazily, inside the timed
    # run) and every branch reuses it.
    agg = agg.localCheckpoint(eager=False)

    # integer DIV, not double `/` + cast: m*(m-1) is always even so the
    # quotient is exact, but the double intermediate rounds past 2^53 —
    # the rowids.py exact-division idiom, applied to pair counts (r10
    # ADVICE).
    def pairs_of(cnt_col):
        return F.sum(F.expr(f"{cnt_col} * ({cnt_col} - 1) DIV 2").cast("long"))

    n0 = (
        agg.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.expr("n * (n - 1) DIV 2").cast("long").alias("n_pairs"))
    )
    n1 = (
        agg.groupBy("rev").agg(F.count(F.lit(1)).alias("m"))
        .agg(pairs_of("m").alias("ties_x"))
    )
    n2 = (
        agg.groupBy("qty").agg(F.count(F.lit(1)).alias("m"))
        .agg(pairs_of("m").alias("ties_y"))
    )
    n3 = (
        agg.groupBy("rev", "qty").agg(F.count(F.lit(1)).alias("m"))
        .agg(pairs_of("m").alias("ties_xy"))
    )

    P = 32  # range partitions for the dominance pass

    def dominance_kernel(batches):
        import numpy as np

        revs, qtys = [], []
        pidx = None
        for pdf in batches:
            if len(pdf):
                pidx = int(pdf["pidx"].iloc[0])
                revs.append(pdf["rev"].to_numpy(np.int64))
                qtys.append(pdf["qty"].to_numpy(np.int64))
        if pidx is None:
            return
        rev = np.concatenate(revs)
        qty = np.concatenate(qtys)
        # group to (rev, qty) value cells with counts
        order = np.lexsort((qty, rev))
        rev, qty = rev[order], qty[order]
        new = np.empty(len(rev), dtype=bool)
        new[0] = True
        new[1:] = (rev[1:] != rev[:-1]) | (qty[1:] != qty[:-1])
        starts = np.flatnonzero(new)
        c = np.diff(np.append(starts, len(rev))).astype(np.int64)
        rev_g, qty_g = rev[starts], qty[starts]

        # weighted mergesort dominance: pairs i<j in (rev,qty) order with
        # qty_i > qty_j, weight c_i*c_j. rev-ties are qty-ascending, so
        # in-tie pairs never satisfy the strict test.
        def count(q, w):
            if len(q) < 2:
                return 0, q, w
            m = len(q) // 2
            d1, q1, w1 = count(q[:m], w[:m])
            d2, q2, w2 = count(q[m:], w[m:])
            # cross: left element > right element (strict)
            cum = np.concatenate(([0], np.cumsum(w1)))
            pos = np.searchsorted(q1, q2, side="right")
            cross = int(np.dot(cum[-1] - cum[pos], w2))
            qm = np.concatenate((q1, q2))
            wm = np.concatenate((w1, w2))
            o = np.argsort(qm, kind="stable")
            return d1 + d2 + cross, qm[o], wm[o]

        d_local, _, _ = count(qty_g, c)
        out = pd.DataFrame(
            {
                "pidx": np.full(len(rev_g) + 1, pidx, dtype=np.int64),
                "qty": np.append(qty_g, 0),
                "c": np.append(c, d_local),
                "kind": np.append(np.ones(len(rev_g), dtype=np.int32), 0),
            }
        )
        yield out

    ranged = (
        agg.select("rev", "qty")
        .repartitionByRange(P, "rev", "qty")
        .withColumn("pidx", F.spark_partition_id())
        .mapInPandas(dominance_kernel, "pidx long, qty long, c long, kind int")
    )
    # Single explode fans each value-group row to its OWN grp (earlier=0)
    # plus every LATER grp (earlier=1); local-count rows ride along as
    # earlier=2. One subtree, one evaluation — see docstring.
    fan = F.when(
        F.col("kind") == 1,
        F.concat(
            F.array(F.struct(F.col("pidx").alias("grp"), F.lit(0).alias("earlier"))),
            F.transform(
                F.when(F.col("pidx") < P - 1, F.sequence(F.col("pidx") + 1, F.lit(P - 1)))
                .otherwise(F.array().cast("array<long>")),
                lambda q: F.struct(q.alias("grp"), F.lit(1).alias("earlier")),
            ),
        ),
    ).otherwise(F.array(F.struct(F.col("pidx").alias("grp"), F.lit(2).alias("earlier"))))
    e = ranged.select(
        F.explode(fan).alias("f"), "qty", "c"
    ).select(F.col("f.grp").alias("grp"), F.col("f.earlier").alias("earlier"), "qty", "c")
    w_cum = (
        Window.partitionBy("grp")
        .orderBy(F.desc("qty"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_same = Window.partitionBy("grp", "qty")
    earlier_c = F.when(F.col("earlier") == 1, F.col("c")).otherwise(F.lit(0))
    contrib = e.select(
        "earlier",
        "c",
        (F.sum(earlier_c).over(w_cum) - F.sum(earlier_c).over(w_same)).alias("gt"),
    )
    d_row = contrib.agg(
        (
            F.coalesce(F.sum(F.when(F.col("earlier") == 2, F.col("c"))), F.lit(0))
            + F.coalesce(
                F.sum(F.when(F.col("earlier") == 0, F.col("c") * F.col("gt"))),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("disc")
    )

    s = n0.crossJoin(n1).crossJoin(n2).crossJoin(n3).crossJoin(d_row)
    return s.selectExpr(
        "n_pairs",
        "CAST(n_pairs - ties_x - ties_y + ties_xy - disc AS BIGINT) AS conc",
        "disc",
        "ties_x",
        "ties_y",
        "CAST(n_pairs - ties_x - ties_y + ties_xy - 2 * disc AS DOUBLE)"
        " / (sqrt(CAST(n_pairs - ties_x AS DOUBLE))"
        " * sqrt(CAST(n_pairs - ties_y AS DOUBLE))) AS tau_b",
    )


@query(
    "q457_bm25_topk",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS dl,
             CAST(len(list_filter(l, x -> x = 'dup')) AS BIGINT) AS tf_dup,
             CAST(len(list_filter(l, x -> x = 'spark')) AS BIGINT) AS tf_spark,
             CAST(len(list_filter(l, x -> x = 'merge')) AS BIGINT) AS tf_merge
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dl) AS BIGINT) AS lt,
             CAST(SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
             CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
             CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge
      FROM base
    )
    SELECT doc_id, dl, tf_dup, tf_spark, tf_merge,
           CAST((2 * n - 2 * df_dup + 1) * 22 * tf_dup * lt AS DOUBLE)
             / CAST((2 * df_dup + 1)
                    * (10 * tf_dup * lt + 3 * lt + 9 * dl * n) AS DOUBLE)
           + CAST((2 * n - 2 * df_spark + 1) * 22 * tf_spark * lt AS DOUBLE)
             / CAST((2 * df_spark + 1)
                    * (10 * tf_spark * lt + 3 * lt + 9 * dl * n) AS DOUBLE)
           + CAST((2 * n - 2 * df_merge + 1) * 22 * tf_merge * lt AS DOUBLE)
             / CAST((2 * df_merge + 1)
                    * (10 * tf_merge * lt + 3 * lt + 9 * dl * n) AS DOUBLE)
             AS score
    FROM base CROSS JOIN stats
    WHERE tf_dup + tf_spark + tf_merge > 0
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def q457_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TOP-K RETRIEVAL — the ranked-search read the q235 inverted
    index exists to serve, for the 3-term query {dup, spark, merge}
    (k1 = 1.2, b = 0.75). Two departures from the textbook form, both
    deliberate: (1) the idf keeps Robertson's ODDS (N−df+0.5)/(df+0.5)
    WITHOUT the log — ln is the one libm call DuckDB and the JVM are
    not bit-contracted to agree on, and a monotone transform never
    changes a single-term ranking while the multi-term sum is simply a
    differently-calibrated fusion (documented, not hidden); (2) every
    term score is ONE division of two exact bigints —
      [(2N−2df+1)·22·tf·L] / [(2df+1)·(10·tf·L + 3L + 9·dl·N)]
    is BM25 with k1=6/5, b=3/4 cleared of fractions (L = total corpus
    tokens, so avgdl = L/N never exists as a float) — and the 3-term
    sum is written in fixed left-to-right order, so both engines run
    the identical IEEE program. Plan: term frequencies come from
    array-HOF ``filter`` over the split text — tf and dl for all query
    terms in ONE scan with NO explode and NO shuffle; corpus stats
    (N, L, df_t) are one scalar aggregate broadcast back; top-10 is a
    TakeOrdered, not a global sort. At 100 TB the per-doc pass is
    embarrassingly parallel and the only exchange is the 1-row stats
    broadcast; magnitudes stay under 2^63 up to ~sf10 (bound in the
    expression comment). Tie-break: doc_id."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    tf = lambda t: F.size(F.filter("l", lambda x: x == t)).cast("long")  # noqa: E731
    base = d.select(
        "doc_id",
        F.size("l").cast("long").alias("dl"),
        tf("dup").alias("tf_dup"),
        tf("spark").alias("tf_spark"),
        tf("merge").alias("tf_merge"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("lt"),
        F.sum((F.col("tf_dup") > 0).cast("long")).cast("long").alias("df_dup"),
        F.sum((F.col("tf_spark") > 0).cast("long")).cast("long").alias("df_spark"),
        F.sum((F.col("tf_merge") > 0).cast("long")).cast("long").alias("df_merge"),
    )
    # (2N·22·tf·L) / ((2df+1)(10·tf·L+3L+9·dl·N)): N≈5e3, L≈3e5 at sf0.1
    # → num ≈ 6e11, den ≈ 3e11; headroom to ~sf10 before 2^63.
    def term(t: str):
        num = (
            (2 * F.col("n") - 2 * F.col(f"df_{t}") + 1)
            * 22
            * F.col(f"tf_{t}")
            * F.col("lt")
        )
        den = (2 * F.col(f"df_{t}") + 1) * (
            10 * F.col(f"tf_{t}") * F.col("lt")
            + 3 * F.col("lt")
            + 9 * F.col("dl") * F.col("n")
        )
        return num.cast("double") / den.cast("double")

    return (
        base.crossJoin(F.broadcast(stats))
        .where(F.col("tf_dup") + F.col("tf_spark") + F.col("tf_merge") > 0)
        .select(
            "doc_id",
            "dl",
            "tf_dup",
            "tf_spark",
            "tf_merge",
            (term("dup") + term("spark") + term("merge")).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(10)
    )


@query(
    "q458_vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    firsts AS (
      SELECT MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents)
      GROUP BY w
    ),
    nw AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_terms
      FROM firsts GROUP BY first_doc
    )
    SELECT t.doc_id, t.dl,
           COALESCE(n.new_terms, 0) AS new_terms,
           CAST(SUM(t.dl) OVER w AS BIGINT) AS tokens_cum,
           CAST(SUM(COALESCE(n.new_terms, 0)) OVER w AS BIGINT) AS vocab_cum
    FROM toks t LEFT JOIN nw n ON n.doc_id = t.doc_id
    WINDOW w AS (ORDER BY t.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q458_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY-GROWTH CURVE (Heaps' law audit) — V(n) vs n: after
    each document in stable doc_id order, how many tokens has the
    corpus streamed and how many DISTINCT terms has it ever seen.
    The curve is what sizes a tokenizer vocab and predicts OOV decay
    (Heaps: V ≈ K·n^β); on this synthetic corpus it saturates at 31
    terms almost immediately — which is itself the finding the curve
    exists to surface (a natural corpus would still be growing).
    'New terms contributed by doc d' = count of terms whose FIRST
    occurrence is d (min-doc_id per term — an associative aggregate,
    not a scan-ordered dedup), so the cumulative-distinct-so-far
    becomes a plain cumsum. Both running totals use q74's
    range-partitioned two-pass cumsum — repartitionByRange(doc_id),
    per-range window, triangular base-offset join on the ≤#partitions
    totals — so there is NO single-reducer global window anywhere; at
    100 TB each range owns corpus/N_ranges docs and the barrier-free
    prefix reconstruction is exact."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    nw = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    # per-doc 3-long-column table — read by both cumsum legs (local
    # windows + the per-range totals), which otherwise re-run the
    # token explode + min-doc aggregate per leg (r11 fact-rescan
    # audit: 5 scans -> 2, the toks/nw structural pair)
    t = toks.join(nw, "doc_id", "left").select(
        "doc_id", "dl", F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms")
    ).localCheckpoint(eager=False)
    ranged = t.repartitionByRange("doc_id").withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("c_dl", F.sum("dl").over(w_local)).withColumn(
        "c_nw", F.sum("new_terms").over(w_local)
    )
    totals = local.groupBy("__pid").agg(
        F.max("c_dl").alias("t_dl"), F.max("c_nw").alias("t_nw")
    )
    earlier = totals.select(
        F.col("__pid").alias("__bpid"),
        F.col("t_dl").alias("__bdl"),
        F.col("t_nw").alias("__bnw"),
    )
    offsets = (
        totals.join(F.broadcast(earlier), F.col("__bpid") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(
            F.coalesce(F.sum("__bdl"), F.lit(0)).cast("long").alias("base_dl"),
            F.coalesce(F.sum("__bnw"), F.lit(0)).cast("long").alias("base_nw"),
        )
    )
    return local.join(F.broadcast(offsets), "__pid").select(
        "doc_id",
        "dl",
        "new_terms",
        (F.col("c_dl") + F.col("base_dl")).cast("long").alias("tokens_cum"),
        (F.col("c_nw") + F.col("base_nw")).cast("long").alias("vocab_cum"),
    )
