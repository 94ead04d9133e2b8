"""Deterministic sketch operators: cardinality estimation and sampling
built on md5 ORDER STATISTICS instead of RNG state, so they are (a)
mergeable/distributed-safe like their probabilistic cousins and (b)
bit-reproducible across engines — the property that lets DuckDB
hash-check them. Production swaps md5 for xxhash64 and (for cardinality)
KMV for HLL when a fixed 1.5 kB register array beats a k-row state; the
query shapes do not change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.session import local_frame
from hoops_edge_database_etl_spark.tables import load

KMV_K = 64
HASH_M = float(1 << 60)  # base_hash60 range: 15 hex chars = 60 bits

_H60 = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q72_kmv_distinct_sketch",
    oracle=f"""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type, {_H60} AS hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY {_H60}) AS rn
      FROM d
    ),
    sk AS (
      SELECT event_type, MAX(hv) AS hk, COUNT(*) AS kk
      FROM h WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    ex AS (SELECT event_type, COUNT(*) AS n_exact FROM d GROUP BY event_type)
    SELECT ex.event_type,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           CASE WHEN sk.kk < {KMV_K} THEN CAST(sk.kk AS DOUBLE)
                ELSE ({KMV_K} - 1.0) * {HASH_M!r} / CAST(sk.hk AS DOUBLE)
           END AS kmv_estimate
    FROM ex JOIN sk USING (event_type)
    """,
)
def q72_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per event_type, next to the
    exact answer it approximates: keep the {k} smallest 60-bit hashes of
    the distinct keys; if the k-th smallest is hk, the key space is
    ~uniformly filled and distinct-count ≈ (k−1)·M/hk. The sketch state
    is k int64s per group — constant, mergeable (merge = union + keep k
    smallest — the same shuffle shape as any top-k), and exactly
    reproducible, unlike RNG-seeded HLL implementations which differ
    across engines. At 100 TB this replaces count_distinct's full
    de-dup shuffle with a k-row state per group."""
    ev = load(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy("hv")
    ranked = d.select("event_type", h.alias("hv")).withColumn(
        "rn", F.row_number().over(w)
    )
    sk = (
        ranked.filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("kk"))
    )
    ex = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    est = F.when(F.col("kk") < KMV_K, F.col("kk").cast("double")).otherwise(
        F.lit(KMV_K - 1.0) * F.lit(HASH_M) / F.col("hk").cast("double")
    )
    return ex.join(sk, "event_type").select(
        "event_type", "n_exact", est.alias("kmv_estimate")
    )


@query(
    "q73_stratified_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':sample'), doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 25
    """,
)
def q73_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 25 docs per language, chosen by
    md5 hash rank — statistically uniform within each stratum (hash order
    is independent of any data attribute) yet fully reproducible and
    repartition-proof, where ``df.sample()``'s per-partition RNG changes
    membership whenever the layout shifts.

    Scale plan (executed, not just documented): runs through
    operators.topk.top_k_per_group — per-(lang, input-partition) local
    top-25 then a ≤25·n_partitions candidate merge, no single-reducer
    strata; see that module for why rank values are identical to the
    one-window form."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample")))
    t = d.select("doc_id", "lang", key.alias("__hk"))
    return top_k_per_group(
        t, ["lang"], [F.col("__hk"), F.col("doc_id")], 25, rank_col="sample_rank"
    ).select(
        "doc_id", "lang", F.col("sample_rank").cast("bigint").alias("sample_rank")
    )


@query(
    "q85_topk_per_group",
    oracle="""
    WITH r AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
                        l_partkey, l_quantity
             ) AS price_rank
      FROM lineitem
    )
    SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
           CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(price_rank AS BIGINT) AS price_rank
    FROM r WHERE price_rank <= 3
    """,
)
def q85_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic top-k per group (the reference's per-game best-line picks,
    gold/market_lines_analysis.py:96-170) through the associative
    two-phase operator — top-3 priciest lineitems per supplier under a
    total-order tiebreak. Same result as one row_number window, but no
    supplier ever owns a whole reducer; see operators/topk.py."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    li = load(spark, sf_dir, "lineitem")
    t = li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_partkey",
                  "l_quantity", "l_extendedprice")
    out = top_k_per_group(
        t,
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"),
         F.col("l_linenumber"), F.col("l_partkey"), F.col("l_quantity")],
        3,
        rank_col="price_rank",
    )
    return out.select(
        F.col("l_suppkey").cast("bigint").alias("l_suppkey"),
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.col("price_rank").cast("bigint").alias("price_rank"),
    )


HLL_B = 9            # 2^9 = 512 registers
HLL_M = 1 << HLL_B
_HLL_WBITS = 60 - HLL_B  # hash width below the bucket bits (md5 15-hex = 60 bits)

_H60_HLL = "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"


@query(
    "q79_hll_distinct",
    oracle=f"""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             {_H60_HLL} // {1 << _HLL_WBITS} AS bucket,
             {_H60_HLL} % {1 << _HLL_WBITS} AS w
      FROM d
    ),
    reg AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN {_HLL_WBITS} + 1
                      ELSE {_HLL_WBITS} - length(bin(w)) + 1 END) AS rho
      FROM h GROUP BY event_type, bucket
    ),
    sk AS (
      SELECT event_type,
             COUNT(*) AS n_filled,
             SUM(CAST(2 AS HUGEINT) ** ({_HLL_WBITS + 1} - rho)) AS s_int
      FROM reg GROUP BY event_type
    ),
    ex AS (SELECT event_type, COUNT(*) AS n_exact FROM d GROUP BY event_type)
    SELECT ex.event_type,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           CAST(sk.n_filled AS BIGINT) AS n_filled,
           (0.7213 / (1.0 + 1.079 / {HLL_M})) * {HLL_M} * {HLL_M}
             / (({HLL_M} - sk.n_filled)
                + CAST(CAST(sk.s_int AS VARCHAR) AS DOUBLE) / {1 << (_HLL_WBITS + 1)})
             AS hll_raw_estimate
    FROM ex JOIN sk USING (event_type)
    """,
)
def q79_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register sketch per event_type, deterministic and
    cross-engine exact (VERDICT r2 optional item 8): bucket = top {b}
    bits of a 60-bit md5 hash, register = max "leading-zeros + 1" of the
    remaining {w} bits (computed as a BINARY-STRING LENGTH — bin(w) —
    because log2() is not exactly floored at powers of two in either
    engine). The harmonic sum Σ2^-rho is kept EXACT by scaling to the
    integer Σ2^(wbits+1-rho) (≤ 512·2^51 « 2^63 per group, mergeable by
    plain SUM — the distributed merge is the shuffle), with empty
    registers' 2^-0 terms added as (m − n_filled) at the edge; only the
    final alpha·m²/S division is float, and it is a single IEEE op chain
    on identical doubles in both engines. State per group = 512 bytes at
    any scale — the count_distinct shuffle replacement. KMV (q72) keeps
    k order statistics instead; HLL's registers win when groups are many
    and memory per group must be flat. The RAW estimator is emitted
    deliberately: the small-range linear-counting correction (m·ln(m/V))
    needs libm log, which is not bit-stable across engines — consumers
    apply it from the same state (n_filled), as
    test_hll_register_state_supports_accurate_estimation does."""
    ev = load(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    h60 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    # integer bucket split: h60 is 60 bits — double division would lose
    # bits past 2^53, so shift/mask, never `/`
    h = d.select(
        "event_type",
        F.shiftright(h60, _HLL_WBITS).alias("bucket"),
        (h60 % (1 << _HLL_WBITS)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS) - F.length(F.bin(F.col("w"))) + 1
    )
    reg = h.groupBy("event_type", "bucket").agg(F.max(rho).alias("rho"))
    sk = reg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_WBITS + 1} - rho AS INT))")
        ).alias("s_int"),
    )
    ex = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    est = (
        F.lit(alpha * HLL_M * HLL_M)
        / (
            (F.lit(HLL_M) - F.col("n_filled"))
            + F.col("s_int").cast("string").cast("double") / F.lit(float(1 << (_HLL_WBITS + 1)))
        )
    )
    return ex.join(sk, "event_type").select(
        "event_type",
        "n_exact",
        F.col("n_filled").cast("bigint").alias("n_filled"),
        est.alias("hll_raw_estimate"),
    )


Q80_BIN = 500.0  # totalprice histogram bin width


@query(
    "q80_histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / {Q80_BIN}) AS BIGINT) AS bin FROM orders
    ),
    h AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY bin),
    c AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    qs AS (
      SELECT CAST(q AS DOUBLE) AS quantile
      FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) AS v(q)
    ),
    k AS (
      SELECT quantile, CAST(ceil(quantile * CAST(n AS DOUBLE)) AS BIGINT) AS kk, n
      FROM qs CROSS JOIN t
    )
    SELECT k.quantile,
           CAST(k.n AS BIGINT) AS n,
           CAST(c.bin AS DOUBLE) * {Q80_BIN}
             + {Q80_BIN} * (CAST(k.kk - (c.cum - c.cnt) AS DOUBLE)
                            / CAST(c.cnt AS DOUBLE)) AS est
    FROM k JOIN c ON c.cum >= k.kk AND (c.cum - c.cnt) < k.kk
    """,
)
def q80_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantile estimation over o_totalprice: fixed
    500-wide bins, per-bin counts (one map-side-combining shuffle —
    the whole sketch), then the q-th value is located by cumulative count
    and linearly interpolated within its bin. Deterministic — no
    RNG, no data-dependent bin edges — so DuckDB reproduces it exactly;
    estimate error is bounded by the bin width. The state is one count
    per OCCUPIED bin (bounded by value-range/width, independent of row
    count), which is why t-digest/GK exist only when the value range is
    unbounded. The cumulative window runs over that bounded histogram,
    never over rows."""
    o = load(spark, sf_dir, "orders")
    b = o.select(
        F.floor(F.col("o_totalprice") / Q80_BIN).cast("long").alias("bin")
    )
    h = b.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = h.withColumn("cum", F.sum("cnt").over(w))
    t = b.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = spark.createDataFrame(
        [(0.25,), (0.5,), (0.75,), (0.9,), (0.99,)], "quantile double"
    )
    k = qs.crossJoin(F.broadcast(t)).withColumn(
        "kk", F.ceil(F.col("quantile") * F.col("n").cast("double")).cast("long")
    )
    est = (
        F.col("bin").cast("double") * Q80_BIN
        + Q80_BIN
        * ((F.col("kk") - (F.col("cum") - F.col("cnt"))).cast("double")
           / F.col("cnt").cast("double"))
    )
    return (
        k.join(
            F.broadcast(c),
            (F.col("cum") >= F.col("kk")) & ((F.col("cum") - F.col("cnt")) < F.col("kk")),
        )
        .select("quantile", "n", est.alias("est"))
    )


@query(
    "q93_exact_quantile_select",
    oracle=f"""
    WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    qs AS (
      SELECT CAST(q AS DOUBLE) AS quantile
      FROM (VALUES (0.5), (0.9), (0.99)) AS x(q)
    ),
    k AS (
      SELECT quantile, n, CAST(ceil(quantile * CAST(n AS DOUBLE)) AS BIGINT) AS kk
      FROM qs CROSS JOIN t
    ),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM s)
    SELECT k.quantile, k.n, r.v AS kth_value
    FROM k JOIN r ON r.rn = k.kk
    """,
)
def q93_exact_quantile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistics without a global sort — the scale answer to
    "median of 100 TB": the oracle sorts all rows (fine for DuckDB at
    sf0.01); the Spark plan never does. Histogram selection instead:
      1. one map-side-combining pass bins values (500-wide) —
         the only full-data shuffle, carrying one count per occupied bin;
      2. the bin holding the k-th row is located by cumulative count over
         the BOUNDED histogram (range/width rows, data-size independent);
      3. only that bin's rows (≈ n·binwidth/range of the data) are
         ranked, partitioned per quantile — with a tighter bin width or
         one more refinement round the final partition is arbitrarily
         small.
    Same exact value as the sort, selection-not-sort complexity. Ties
    are safe: row_number order within equal values is arbitrary but the
    value AT rank k is unique."""
    o = load(spark, sf_dir, "orders")
    s = o.select(F.col("o_totalprice").cast("double").alias("v"))
    b = s.select("v", F.floor(F.col("v") / Q80_BIN).cast("long").alias("bin"))
    hist = b.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist_cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    t = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    k = (
        local_frame(spark, [(0.5,), (0.9,), (0.99,)], "quantile double")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "kk", F.ceil(F.col("quantile") * F.col("n").cast("double")).cast("long")
        )
    )
    located = k.join(
        F.broadcast(hist_cum),
        (F.col("cum") >= F.col("kk")) & ((F.col("cum") - F.col("cnt")) < F.col("kk")),
    ).select("quantile", "n", "kk", "bin", (F.col("cum") - F.col("cnt")).alias("cb"))
    cand = b.join(F.broadcast(located), "bin")
    wq = Window.partitionBy("quantile").orderBy("v")
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("kk") - F.col("cb"))
        .select("quantile", "n", F.col("v").alias("kth_value"))
    )


@query(
    "q107_grouped_median",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS prio, CAST(o_totalprice AS DOUBLE) AS v FROM orders
    ),
    t AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY prio),
    qs AS (SELECT CAST(q AS DOUBLE) AS quantile
           FROM (VALUES (0.5), (0.9)) AS x(q)),
    k AS (
      SELECT prio, quantile, n,
             CAST(ceil(quantile * CAST(n AS DOUBLE)) AS BIGINT) AS kk
      FROM t CROSS JOIN qs
    ),
    r AS (
      SELECT prio, v,
             ROW_NUMBER() OVER (PARTITION BY prio ORDER BY v) AS rn
      FROM s
    )
    SELECT k.prio, k.quantile, k.n, r.v AS kth_value
    FROM k JOIN r ON r.prio = k.prio AND r.rn = k.kk
    """,
)
def q107_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group order statistics (median + p90 per order priority)
    — q93's histogram-select, grouped: the oracle sorts every stratum;
    the Spark plan bins once (map-side combine), walks the cumulative
    count over each group's BOUNDED histogram (range/width rows — the
    per-group window never sees data-sized partitions), and ranks only
    the k-th bin's rows per (group, quantile). The grouped form is what
    replaces `percentile_approx` when the answer must be exact and
    `ORDER BY` within groups would melt a reducer."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    b = s.select("prio", "v", F.floor(F.col("v") / Q80_BIN).cast("long").alias("bin"))
    hist = b.groupBy("prio", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (
        Window.partitionBy("prio")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist_cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    t = s.groupBy("prio").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = local_frame(spark, [(0.5,), (0.9,)], "quantile double")
    k = t.crossJoin(F.broadcast(qs)).withColumn(
        "kk", F.ceil(F.col("quantile") * F.col("n").cast("double")).cast("long")
    )
    located = k.join(
        hist_cum.withColumnRenamed("prio", "__hp"),
        (F.col("__hp") == F.col("prio"))
        & (F.col("cum") >= F.col("kk"))
        & ((F.col("cum") - F.col("cnt")) < F.col("kk")),
    ).select("prio", "quantile", "n", "kk", "bin", (F.col("cum") - F.col("cnt")).alias("cb"))
    cand = b.join(F.broadcast(located), ["prio", "bin"])
    wq = Window.partitionBy("prio", "quantile").orderBy("v")
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("kk") - F.col("cb"))
        .select("prio", "quantile", "n", F.col("v").alias("kth_value"))
    )


@query(
    "q108_vector_norms",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             CAST(floor(CAST(u.x AS DOUBLE) * {1 << 24} + 0.5) AS BIGINT) AS q
      FROM embeddings, UNNEST(embedding) AS u(x)
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           sqrt(CAST(SUM(q * q) AS DOUBLE)) / {float(1 << 24)!r} AS l2_norm,
           CAST(MAX(abs(q)) AS DOUBLE) / {float(1 << 24)!r} AS max_abs
    FROM x GROUP BY vec_id
    """,
)
def q108_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm and max coordinate, cross-engine EXACT: squares
    of 24-bit fixed-point coordinates sum in int64 (64 dims × 2⁴⁸ < 2⁵⁴
    — no overflow), and the only float op is one sqrt + one division —
    sqrt is IEEE-754 correctly rounded in BOTH engines (unlike log/pow,
    which is why q79/q92 avoid those). The normalize-before-index step
    of every embedding pipeline: one map-side-combining shuffle on
    vec_id after the explode (kept-whole arrays with ``F.aggregate``
    would be zero-shuffle, but the exploded form is the one that scales
    past row-width limits and reuses the q103 aggregation shape)."""
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.explode("embedding").alias("val")
    ).select(
        "vec_id",
        F.floor(F.col("val").cast("double") * (1 << 24) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    return x.groupBy("vec_id").agg(
        (F.sqrt(F.sum(F.col("q") * F.col("q")).cast("double")) / F.lit(float(1 << 24)))
        .alias("l2_norm"),
        (F.max(F.abs("q")).cast("double") / F.lit(float(1 << 24))).alias("max_abs"),
    ).select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "l2_norm", "max_abs"
    )


# ---------------------------------------------------------------------------
# Count-min sketch (q125): frequency estimation in fixed memory.
# ---------------------------------------------------------------------------

CM_P = 2147483647  # Mersenne prime 2^31-1: universal-hash modulus
CM_W = 256         # buckets per hash row
CM_ROWS = [        # (j, a, b): pairwise-independent affine family
    (0, 1103515245, 12345),
    (1, 69069, 362437),
    (2, 1664525, 1013904223),
    (3, 22695477, 1),
]
CM_TOPN = 10

_CM_JT = "SELECT * FROM (VALUES " + ", ".join(
    f"({j}, {a}, {b})" for j, a, b in CM_ROWS
) + ") AS t(j, a, b)"


@query(
    "q125_countmin_heavy_hitters",
    oracle=f"""
    WITH jt AS ({_CM_JT}),
    base AS (SELECT l_suppkey AS key FROM lineitem),
    exact AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS exact_cnt
              FROM base GROUP BY key),
    cand AS (
      SELECT key, exact_cnt
      FROM (SELECT key, exact_cnt,
                   ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, key) AS rn
            FROM exact)
      WHERE rn <= {CM_TOPN}
    ),
    sketch AS (
      SELECT jt.j, ((jt.a * base.key + jt.b) % {CM_P}) % {CM_W} AS col,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base CROSS JOIN jt
      GROUP BY 1, 2
    )
    SELECT c.key AS key, c.exact_cnt AS exact_cnt,
           CAST(MIN(s.cnt) AS BIGINT) AS cm_estimate,
           CAST(MIN(s.cnt) - c.exact_cnt AS BIGINT) AS overestimate
    FROM cand c
    CROSS JOIN jt
    JOIN sketch s
      ON s.j = jt.j AND s.col = ((jt.a * c.key + jt.b) % {CM_P}) % {CM_W}
    GROUP BY c.key, c.exact_cnt
    """,
)
def q125_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation next to the exact counts it
    approximates (reference analogue: the provider-frequency profiling
    its validators do by full groupBy, cbbd_etl/validate.py): d={d} rows
    × w={w} buckets of affine-hash counters — a FIXED {d}×{w}-cell state
    regardless of input size, mergeable by cell-wise addition, so the
    100 TB build is one map-side-combining shuffle carrying at most
    d·w rows per map partition instead of one row per distinct key.
    Point estimate = min over rows of the key's bucket counter; it can
    only OVERestimate (collisions add), which the emitted
    ``overestimate`` column makes visible. The affine family
    ((a·x+b) mod p) mod w is pairwise independent and integer-exact in
    both engines — no RNG, so DuckDB reproduces the sketch bit-for-bit.
    Heavy-hitter candidates here are the exact top-{n} (deterministic
    tie-break count desc, key asc) via TakeOrdered; a pure-sketch
    pipeline would instead probe the dictionary of candidate keys.
    The sketch side of the lookup join is ≤ d·w rows — broadcast.""".format(
        d=len(CM_ROWS), w=CM_W, n=CM_TOPN
    )
    li = load(spark, sf_dir, "lineitem")
    base = li.select(F.col("l_suppkey").alias("key"))
    exact = base.groupBy("key").agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    cand = exact.orderBy(F.desc("exact_cnt"), F.asc("key")).limit(CM_TOPN)

    buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("key") + F.lit(b)) % CM_P) % CM_W).alias("col"),
            )
            for j, a, b in CM_ROWS
        ]
    )
    sketch = (
        base.select(F.explode(buckets).alias("jc"))
        .groupBy(F.col("jc.j").alias("j"), F.col("jc.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    probes = cand.select("key", "exact_cnt", F.explode(buckets).alias("jc")).select(
        "key", "exact_cnt", F.col("jc.j").alias("j"), F.col("jc.col").alias("col")
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "col"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("cm_estimate"))
        .select(
            "key",
            "exact_cnt",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_cnt")).cast("bigint").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# KMV set operations (q126): union / intersection / Jaccard from sketches.
# ---------------------------------------------------------------------------

KMV_A = "click"
KMV_B = "error"


@query(
    "q126_kmv_set_ops",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type AS cohort, user_id,
             {_H60} AS hv
      FROM events WHERE event_type IN ('{KMV_A}', '{KMV_B}')
    ),
    ranked AS (
      SELECT cohort, hv,
             ROW_NUMBER() OVER (PARTITION BY cohort ORDER BY hv) AS rn
      FROM d
    ),
    sk AS (SELECT cohort, hv FROM ranked WHERE rn <= {KMV_K}),
    u AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sk)
    ),
    u64 AS (SELECT hv FROM u WHERE rn <= {KMV_K}),
    ustat AS (SELECT CAST(MAX(hv) AS BIGINT) AS hk,
                     CAST(COUNT(*) AS BIGINT) AS kk FROM u64),
    n_and AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_and FROM u64
      WHERE hv IN (SELECT hv FROM sk WHERE cohort = '{KMV_A}')
        AND hv IN (SELECT hv FROM sk WHERE cohort = '{KMV_B}')
    ),
    est AS (
      SELECT CASE WHEN ustat.kk < {KMV_K} THEN CAST(ustat.kk AS DOUBLE)
                  ELSE ({KMV_K} - 1.0) * {HASH_M!r} / CAST(ustat.hk AS DOUBLE)
             END AS est_union,
             CAST(n_and.n_and AS DOUBLE) / CAST(ustat.kk AS DOUBLE) AS est_jaccard
      FROM ustat CROSS JOIN n_and
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union,
             CAST(SUM(CASE WHEN nc = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_intersection
      FROM (SELECT user_id, COUNT(DISTINCT cohort) AS nc FROM d GROUP BY user_id)
    )
    SELECT est.est_union AS est_union,
           est.est_jaccard AS est_jaccard,
           est.est_jaccard * est.est_union AS est_intersection,
           ex.exact_union AS exact_union,
           ex.exact_intersection AS exact_intersection
    FROM est CROSS JOIN ex
    """,
)
def q126_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed set algebra on KMV sketches: estimate |A∪B|, Jaccard,
    and |A∩B| for two user cohorts from two k={k}-row sketches instead
    of a full distinct-union shuffle. Union sketch = k smallest of the
    merged per-cohort sketches (KMV closure under union); Jaccard =
    fraction of the union sketch's hashes present in BOTH cohort
    sketches (Beyer et al., SIGMOD'07); intersection = Jaccard × union.
    Exact answers computed alongside. Per-cohort k-minima run through
    the associative two-phase top-k (operators/topk.py) — no cohort
    ever sorts on one reducer — and every downstream step touches only
    ≤ 2k sketch rows. Deterministic md5-order-statistics hashing, so
    the DuckDB replay is bit-identical.""".format(k=KMV_K)
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    ev = load(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type").isin(KMV_A, KMV_B))
        .select(F.col("event_type").alias("cohort"), "user_id")
        .distinct()
        .withColumn(
            "hv",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long"),
        )
    )
    # <=2k-row sketch feeds the union minima and both membership legs;
    # the k-row union feeds the estimator and the intersection count —
    # checkpoint both so the cohort top-k over events runs once (r11
    # fact-rescan audit: 5 scans -> 2, sketch build + exact side)
    sk = (
        top_k_per_group(d, ["cohort"], [F.col("hv")], KMV_K)
        .select("cohort", "hv")
        .localCheckpoint(eager=False)
    )
    u64 = (
        sk.select("hv").distinct().orderBy("hv").limit(KMV_K)
        .localCheckpoint(eager=False)
    )
    ustat = u64.agg(
        F.max("hv").cast("bigint").alias("hk"), F.count(F.lit(1)).cast("bigint").alias("kk")
    )
    in_a = sk.filter(F.col("cohort") == KMV_A).select("hv")
    in_b = sk.filter(F.col("cohort") == KMV_B).select("hv")
    n_and = (
        u64.join(in_a, "hv", "semi")
        .join(in_b, "hv", "semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_and"))
    )
    est = (
        ustat.crossJoin(n_and)
        .select(
            F.when(F.col("kk") < KMV_K, F.col("kk").cast("double"))
            .otherwise(F.lit(KMV_K - 1.0) * F.lit(HASH_M) / F.col("hk").cast("double"))
            .alias("est_union"),
            (F.col("n_and").cast("double") / F.col("kk").cast("double")).alias(
                "est_jaccard"
            ),
        )
    )
    ex = (
        d.groupBy("user_id")
        .agg(F.countDistinct("cohort").alias("nc"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_union"),
            F.sum(F.when(F.col("nc") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
    )
    return est.crossJoin(ex).select(
        "est_union",
        "est_jaccard",
        (F.col("est_jaccard") * F.col("est_union")).alias("est_intersection"),
        "exact_union",
        "exact_intersection",
    )


# ---------------------------------------------------------------------------
# Robust outliers via MAD (q127): two composed grouped exact medians.
# ---------------------------------------------------------------------------

MAD_BIN = 1.0  # histogram bin width for events.value (range ~0-500)


def _grouped_kth(df: DataFrame, key: str, v: str, quantile: float, bin_width: float) -> DataFrame:
    """Exact per-group k-th order statistic (k = ceil(q*n)) via the q107
    histogram-select plan: one map-side-combining histogram shuffle, a
    cumulative walk over the BOUNDED per-group histogram, then ranking
    only the located bin's rows. Returns (key, n, kth).

    The bounded histogram is localCheckpointed (r11 fact-rescan audit):
    it feeds THREE consumers — the cumulative walk, the per-group count
    (n = Σ cnt, derived from the histogram instead of a separate fact
    scan), and via `located` the candidate-bin filter — so without a
    materialization each consumer re-executed the fact scan + shuffle
    underneath it. Only the ≤(groups × bins)-row histogram is ever
    checkpointed, never the corpus-sized input."""
    b = df.select(key, v, F.floor(F.col(v) / bin_width).cast("long").alias("bin"))
    hist = b.groupBy(key, "bin").agg(F.count(F.lit(1)).alias("cnt"))
    hist = hist.localCheckpoint(eager=False)
    wb = (
        Window.partitionBy(key)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist_cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    t = hist.groupBy(key).agg(F.sum("cnt").cast("bigint").alias("n"))
    k = t.withColumn(
        "kk", F.ceil(F.lit(quantile) * F.col("n").cast("double")).cast("long")
    )
    located = k.join(
        hist_cum.withColumnRenamed(key, "__hk"),
        (F.col("__hk") == F.col(key))
        & (F.col("cum") >= F.col("kk"))
        & ((F.col("cum") - F.col("cnt")) < F.col("kk")),
    ).select(key, "n", "kk", "bin", (F.col("cum") - F.col("cnt")).alias("cb"))
    cand = b.join(F.broadcast(located), [key, "bin"])
    wq = Window.partitionBy(key).orderBy(v)
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("kk") - F.col("cb"))
        .select(key, "n", F.col(v).alias("kth"))
    )


@query(
    "q127_mad_outliers",
    oracle="""
    WITH s AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
    t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY event_type),
    r1 AS (SELECT event_type, v,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
           FROM s),
    med AS (
      SELECT t.event_type, t.n, r1.v AS median
      FROM t JOIN r1 ON r1.event_type = t.event_type
         AND r1.rn = CAST(ceil(0.5 * CAST(t.n AS DOUBLE)) AS BIGINT)
    ),
    dev AS (
      SELECT s.event_type, s.v, abs(s.v - med.median) AS d
      FROM s JOIN med ON med.event_type = s.event_type
    ),
    r2 AS (SELECT event_type, d,
                  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
           FROM dev),
    mad AS (
      SELECT t.event_type, r2.d AS mad
      FROM t JOIN r2 ON r2.event_type = t.event_type
         AND r2.rn = CAST(ceil(0.5 * CAST(t.n AS DOUBLE)) AS BIGINT)
    )
    SELECT med.event_type AS event_type, med.n AS n, med.median AS median,
           mad.mad AS mad,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev
    JOIN med ON med.event_type = dev.event_type
    JOIN mad ON mad.event_type = dev.event_type
    GROUP BY med.event_type, med.n, med.median, mad.mad
    """,
)
def q127_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection — median absolute deviation,
    the estimator that survives the outliers it hunts (unlike q27's
    mean/stddev z-score, which heavy tails drag): two COMPOSED exact
    grouped medians (value, then |value − median|) through the q107
    histogram-select plan — each pass is one bounded-histogram shuffle
    plus a rank of a single bin, never a per-group full sort — then a
    flag pass counts rows beyond 3×MAD. Exactness across engines: the
    medians are actual data values, |v−m| is a single IEEE subtraction,
    and the 3×MAD threshold is one multiplication — all bit-identical
    in DuckDB's replay. The reference's anomaly gate
    (cbbd_etl/validate.py z-score path) is the fragile version of this."""
    ev = load(spark, sf_dir, "events")
    s = ev.select("event_type", F.col("value").cast("double").alias("v"))
    med = _grouped_kth(s, "event_type", "v", 0.5, MAD_BIN).select(
        "event_type", "n", F.col("kth").alias("median")
    )
    dev = s.join(F.broadcast(med), "event_type").select(
        "event_type", "v", F.abs(F.col("v") - F.col("median")).alias("d")
    )
    mad = _grouped_kth(dev, "event_type", "d", 0.5, MAD_BIN).select(
        "event_type", F.col("kth").alias("mad")
    )
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "median", "mad")
        .agg(
            F.sum(F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select("event_type", "n", "median", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Winsorized robust scaling (q140): percentile clamp as a feature transform.
# ---------------------------------------------------------------------------


@query(
    "q140_winsorize",
    oracle="""
    WITH s AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
    t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY event_type),
    r AS (SELECT event_type, v,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
          FROM s),
    lo AS (
      SELECT t.event_type, r.v AS p05
      FROM t JOIN r ON r.event_type = t.event_type
         AND r.rn = CAST(ceil(0.05 * CAST(t.n AS DOUBLE)) AS BIGINT)
    ),
    hi AS (
      SELECT t.event_type, r.v AS p95
      FROM t JOIN r ON r.event_type = t.event_type
         AND r.rn = CAST(ceil(0.95 * CAST(t.n AS DOUBLE)) AS BIGINT)
    ),
    w AS (
      SELECT s.event_type,
             CASE WHEN s.v < lo.p05 THEN lo.p05
                  WHEN s.v > hi.p95 THEN hi.p95
                  ELSE s.v END AS wv,
             CASE WHEN s.v < lo.p05 OR s.v > hi.p95 THEN 1 ELSE 0 END AS clamped
      FROM s
      JOIN lo ON lo.event_type = s.event_type
      JOIN hi ON hi.event_type = s.event_type
    )
    SELECT w.event_type AS event_type, lo.p05 AS p05, hi.p95 AS p95,
           CAST(SUM(w.clamped) AS BIGINT) AS n_clamped,
           CAST(SUM(CAST(CAST(w.wv AS DECIMAL(18,2)) AS DECIMAL(38,2)))
                AS DOUBLE) AS winsorized_sum
    FROM w
    JOIN lo ON lo.event_type = w.event_type
    JOIN hi ON hi.event_type = w.event_type
    GROUP BY w.event_type, lo.p05, hi.p95
    """,
)
def q140_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust scaling — the feature-engineering clamp that
    precedes normalization in every training pipeline (cap each group's
    values at its own exact [p05, p95]): per-group percentiles come from
    the q107 histogram-select plan (bounded histogram walk + single-bin
    rank, never a per-group sort), broadcast back onto the stream, and
    the clamp itself is a pure CASE map. The winsorized sum aggregates
    in DECIMAL so the hash check is order-independent; n_clamped makes
    the tail mass visible (should be ≈10% of each group by
    construction). Composes the same _grouped_kth core as q127 — one
    operator, three oracle-checked consumers."""
    ev = load(spark, sf_dir, "events")
    s = ev.select("event_type", F.col("value").cast("double").alias("v"))
    lo = _grouped_kth(s, "event_type", "v", 0.05, MAD_BIN).select(
        "event_type", F.col("kth").alias("p05")
    )
    hi = _grouped_kth(s, "event_type", "v", 0.95, MAD_BIN).select(
        "event_type", F.col("kth").alias("p95")
    )
    w = (
        s.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_type",
            "p05",
            "p95",
            F.when(F.col("v") < F.col("p05"), F.col("p05"))
            .when(F.col("v") > F.col("p95"), F.col("p95"))
            .otherwise(F.col("v"))
            .alias("wv"),
            F.when(
                (F.col("v") < F.col("p05")) | (F.col("v") > F.col("p95")), 1
            )
            .otherwise(0)
            .alias("clamped"),
        )
    )
    return w.groupBy("event_type", "p05", "p95").agg(
        F.sum("clamped").cast("bigint").alias("n_clamped"),
        F.sum(F.col("wv").cast("decimal(18,2)"))
        .cast("double")
        .alias("winsorized_sum"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram build (q153): optimizer statistics at scale.
# ---------------------------------------------------------------------------

EQD_BUCKETS = 8


@query(
    "q153_equidepth_histogram",
    oracle=f"""
    WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM s),
    ks AS (
      SELECT CAST(ceil((CAST(q.x AS DOUBLE) / {EQD_BUCKETS})
                       * CAST(t.n AS DOUBLE)) AS BIGINT) AS kk
      FROM range(1, {EQD_BUCKETS}) q(x), t
    ),
    bounds AS (
      SELECT list(r.v ORDER BY r.v) AS arr
      FROM ks JOIN r ON r.rn = ks.kk
    ),
    bucketed AS (
      SELECT len(list_filter(b.arr, t -> s.v > t)) AS bucket, s.v
      FROM s CROSS JOIN bounds b
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS lo, MAX(v) AS hi
    FROM bucketed GROUP BY bucket
    """,
)
def q153_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram construction — the optimizer statistic
    (DuckDB/Postgres bounds arrays, Spark CBO histograms) and the NTILE
    answer that needs no global sort: the {b}−1 bucket boundaries are
    EXACT order statistics from the q93 histogram-select plan (bounded
    bin walk + single-bin rank per boundary — the oracle's full
    ROW_NUMBER sort is exactly what this avoids), assembled into one
    broadcast boundary array, and every row buckets itself with a pure
    count-of-boundaries-below expression (ties bind down — identical
    rule both engines). Verification that depths are ≈ n/{b} is IN the
    result. At 100 TB: two bounded shuffles for the boundaries, one
    broadcast, one map — versus NTILE's single-reducer
    ORDER-BY-everything.""".format(b=EQD_BUCKETS)
    o = load(spark, sf_dir, "orders")
    s = o.select(F.col("o_totalprice").cast("double").alias("v"))
    b = s.select("v", F.floor(F.col("v") / Q80_BIN).cast("long").alias("bin"))
    hist = b.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist_cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    t = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = spark.createDataFrame(
        [(i,) for i in range(1, EQD_BUCKETS)], "i int"
    )
    k = qs.crossJoin(F.broadcast(t)).select(
        F.ceil((F.col("i").cast("double") / EQD_BUCKETS) * F.col("n").cast("double"))
        .cast("long")
        .alias("kk")
    )
    located = k.join(
        F.broadcast(hist_cum),
        (F.col("cum") >= F.col("kk")) & ((F.col("cum") - F.col("cnt")) < F.col("kk")),
    ).select("kk", "bin", (F.col("cum") - F.col("cnt")).alias("cb"))
    cand = b.join(F.broadcast(located), "bin")
    wq = Window.partitionBy("kk").orderBy("v")
    bounds = (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("kk") - F.col("cb"))
        .agg(F.sort_array(F.collect_list("v")).alias("arr"))
    )
    bucketed = s.crossJoin(F.broadcast(bounds)).select(
        F.size(F.filter(F.col("arr"), lambda bd: F.col("v") > bd)).alias("bucket"),
        "v",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).select(F.col("bucket").cast("bigint"), "n_rows", "lo", "hi")


# ---------------------------------------------------------------------------
# Weighted grouped median (q162): quantiles over weighted domains.
# ---------------------------------------------------------------------------


@query(
    "q162_weighted_median",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             CAST(n_chars AS DOUBLE) AS v
      FROM documents
    ),
    t AS (SELECT source, CAST(SUM(w) AS BIGINT) AS tw FROM s GROUP BY source),
    r AS (
      SELECT source, v, w,
             SUM(w) OVER (PARTITION BY source ORDER BY v, w
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM s
    )
    SELECT t.source, t.tw AS total_weight,
           MIN(r.v) AS weighted_median
    FROM t JOIN r ON r.source = t.source
      AND r.cw >= CAST(ceil(0.5 * CAST(t.tw AS DOUBLE)) AS BIGINT)
    GROUP BY t.source, t.tw
    """,
)
def q162_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median per group — the token-weighted center of the
    document-length distribution ("the length such that half the
    CORPUS TOKENS sit in shorter docs"), the quantile a training-mix
    report actually needs (q107's unweighted median answers about
    docs, not tokens). Same histogram-select scaling story: one
    map-side-combining pass bins (value → Σweight) per group, the
    cumulative walk runs over the BOUNDED per-group weight histogram,
    and only the bin containing the half-weight point ranks its rows
    (cumulative weight within one bin, ordered by (v, w) with the
    weight as tiebreak — a total order, so both engines select the
    identical row). The oracle's full per-group ORDER BY is exactly
    the sort this avoids."""
    d = load(spark, sf_dir, "documents")
    s = d.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("w"),
        F.col("n_chars").cast("double").alias("v"),
    )
    BIN = 100.0
    b = s.select("source", "w", "v", F.floor(F.col("v") / BIN).cast("long").alias("bin"))
    hist = b.groupBy("source", "bin").agg(F.sum("w").alias("bw"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist_cum = hist.withColumn("cum", F.sum("bw").over(wb))
    t = s.groupBy("source").agg(F.sum("w").cast("bigint").alias("tw"))
    k = t.withColumn(
        "kk", F.ceil(F.lit(0.5) * F.col("tw").cast("double")).cast("long")
    )
    located = k.join(
        hist_cum.withColumnRenamed("source", "__hs"),
        (F.col("__hs") == F.col("source"))
        & (F.col("cum") >= F.col("kk"))
        & ((F.col("cum") - F.col("bw")) < F.col("kk")),
    ).select("source", "tw", "kk", "bin", (F.col("cum") - F.col("bw")).alias("cb"))
    cand = b.join(F.broadcast(located), ["source", "bin"])
    wq = (
        Window.partitionBy("source")
        .orderBy("v", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cand.withColumn("lcw", F.sum("w").over(wq))
        .filter(F.col("cb") + F.col("lcw") >= F.col("kk"))
        .groupBy("source", F.col("tw").alias("total_weight"))
        .agg(F.min("v").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap (q172): uncertainty for a one-pass total. The classic
# bootstrap resamples n rows WITH replacement B times — undistributable.
# The Poisson approximation gives each row an independent Poisson(1)
# multiplicity per replicate, which IS one scan with a B-fold explode.
# ---------------------------------------------------------------------------

BOOT_B = 32
#: Poisson(1) CDF cut points on a 0..999 integer lattice: P(0)=.368,
#: P(≤1)=.736, P(≤2)=.920, P(≤3)=.981, P(≤4)=.996 (tail mass → 5).
BOOT_CUTS = (368, 736, 920, 981, 996)

_BOOT_M_SQL = (
    "CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2 "
    "WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 ELSE 5 END"
)


@query(
    "q172_bootstrap_variance",
    oracle=f"""
    WITH x AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT x.o_orderkey, x.cents, t.b,
             CAST('0x' || substr(md5(CAST(x.o_orderkey AS VARCHAR) || ':boot:'
                                      || CAST(t.b AS VARCHAR)), 1, 8) AS BIGINT)
               % 1000 AS u
      FROM x, UNNEST(range(0, {BOOT_B})) AS t(b)
    ),
    rep AS (
      SELECT b,
             CAST(SUM({_BOOT_M_SQL}) AS BIGINT) AS n,
             CAST(SUM(({_BOOT_M_SQL}) * cents) AS BIGINT) AS t
      FROM r GROUP BY b
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(CAST(SUM(CAST(t AS DECIMAL(38,0)) * t) AS VARCHAR) AS DOUBLE) AS stt
      FROM rep
    )
    SELECT (SELECT CAST(SUM(cents) AS BIGINT) FROM x) AS point_total_cents,
           nb AS n_replicates,
           CAST(st AS DOUBLE) / nb AS boot_mean,
           sqrt((nb * stt - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                / (CAST(nb AS DOUBLE) * (nb - 1))) AS boot_se
    FROM s
    """,
)
def q172_bootstrap_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap standard error of the corpus revenue total in ONE
    distributed pass: every row draws a DETERMINISTIC hash-derived
    Poisson(1) multiplicity for each of B=32 replicates (md5 lattice →
    integer CDF cut points — never rand(), so the estimate is
    reproducible and repartition-proof, the q68 rule), replicate totals
    reduce with map-side combine, and the spread of the 32 totals IS the
    sampling variance of the estimator (Kleiner et al.'s scalable
    bootstrap). Second moments of replicate totals go through
    DECIMAL(38,0) (q152's rule — t² overflows int64 at warehouse scale);
    the final mean/SE are single closed-form float expressions.

    Cost model at 100 TB: the explode is B× the scan, but each exploded
    row is (b, u, cents) — no shuffle until the B-row reduction, so the
    bootstrap costs B× CPU and B× map-output of ONE aggregation, not B
    scans. B=32 bounds the SE's own noise at ~12%; production uses
    B=100-200 with the same plan."""
    o = load(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # The B-fold explode + per-(row, b) md5 is the CPU of this plan, and it
    # materializes inside the scan's partitions — the single-row-group test
    # files give that stage parallelism 1. Re-spread the (small) base rows
    # BEFORE the fan-out so the hash work runs wide; a production table
    # with real splits makes this a no-op-sized shuffle.
    r = x.repartition(32).select(
        "o_orderkey", "cents", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":boot:"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000,
    )
    m = (
        F.when(F.col("u") < BOOT_CUTS[0], 0)
        .when(F.col("u") < BOOT_CUTS[1], 1)
        .when(F.col("u") < BOOT_CUTS[2], 2)
        .when(F.col("u") < BOOT_CUTS[3], 3)
        .when(F.col("u") < BOOT_CUTS[4], 4)
        .otherwise(5)
    )
    rep = r.groupBy("b").agg(
        F.sum(m).cast("bigint").alias("n"),
        F.sum(m * F.col("cents")).cast("bigint").alias("t"),
    )
    s = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t"))
        .cast("string").cast("double").alias("stt"),
    )
    point = x.agg(F.sum("cents").cast("bigint").alias("point_total_cents"))
    nb, st, stt = F.col("nb"), F.col("st").cast("double"), F.col("stt")
    return point.crossJoin(F.broadcast(s)).select(
        "point_total_cents",
        F.col("nb").alias("n_replicates"),
        (st / nb).alias("boot_mean"),
        F.sqrt(
            (nb * stt - st * st) / (nb.cast("double") * (nb - 1))
        ).alias("boot_se"),
    )


# ---------------------------------------------------------------------------
# Tukey IQR outlier fences (q198): the boxplot rule — [p25 − 1.5·IQR,
# p75 + 1.5·IQR] — as exact order statistics through the shared
# histogram-select core. The quantile-based sibling of q127's MAD gate.
# ---------------------------------------------------------------------------


@query(
    "q198_iqr_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM s
    ),
    q AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN cents END) AS p25,
             MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN cents END) AS p75,
             CAST(MAX(n) AS BIGINT) AS n
      FROM r GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(q.p25 AS BIGINT) AS p25_cents,
           CAST(q.p75 AS BIGINT) AS p75_cents, q.n AS n_events,
           CAST(SUM(CASE WHEN 2 * s.cents < 5 * q.p25 - 3 * q.p75
                          OR 2 * s.cents > 5 * q.p75 - 3 * q.p25
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM s JOIN q ON q.event_type = s.event_type
    GROUP BY s.event_type, q.p25, q.p75, q.n
    """,
)
def q198_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per event stream: exact p25/p75 via TWO runs
    of the shared ``_grouped_kth`` histogram-select core (no per-group
    sort — the oracle's full ROW_NUMBER ranking is what this avoids),
    broadcast back, and the fence test stated as the INTEGER inequality
    2v < 5·p25 − 3·p75 (algebraically v < p25 − 1.5·IQR with no float
    1.5 anywhere). The alternative robust gate is q127's MAD; Tukey
    fences are the one every BI boxplot draws, and they need two
    quantiles where MAD needs two medians — same machinery, different
    robustness profile."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    p25 = _grouped_kth(s, "event_type", "cents", 0.25, 100.0).select(
        "event_type", F.col("kth").alias("p25"), F.col("n").alias("n")
    )
    p75 = _grouped_kth(s, "event_type", "cents", 0.75, 100.0).select(
        "event_type", F.col("kth").alias("p75")
    )
    q = p25.join(p75, "event_type")
    low = 5 * F.col("p25") - 3 * F.col("p75")
    high = 5 * F.col("p75") - 3 * F.col("p25")
    return (
        s.join(F.broadcast(q), "event_type")
        .groupBy(
            "event_type",
            F.col("p25").cast("bigint").alias("p25_cents"),
            F.col("p75").cast("bigint").alias("p75_cents"),
            F.col("n").cast("bigint").alias("n_events"),
        )
        .agg(
            F.sum(
                F.when(
                    (2 * F.col("cents") < low) | (2 * F.col("cents") > high), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )


# ---------------------------------------------------------------------------
# Bitmap presence encoding (q213): a 30-day activity calendar packed into
# ONE int64 per (user, month) — the roaring-bitmap idea at word size.
# Presence joins, streak math, and DAU-style rollups become bitwise ops.
# ---------------------------------------------------------------------------


@query(
    "q213_bitmap_presence",
    oracle="""
    WITH b AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << CAST(date_diff('day', DATE '2024-01-01',
                    CAST(ts AS DATE)) AS INTEGER)) AS days_bm
      FROM events GROUP BY user_id
    )
    SELECT CAST(bit_count(days_bm) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN (days_bm & 7) = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active_first3_streak
    FROM b GROUP BY bit_count(days_bm)
    """,
)
def q213_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-calendar bitmaps: each user's January activity packs into
    a single int64 (day-of-month bit, merged with the associative
    ``bit_or`` aggregate — map-side combining carries the whole
    reduction, 8 bytes of state per user), and calendar questions become
    bit arithmetic: active-day count = popcount, "active each of the
    first 3 days" = mask test (bm & 7) = 7. Output is the bounded
    active-day histogram.

    This is the word-sized core of roaring-bitmap presence indexes:
    segment-membership joins become bitwise AND, retention streaks
    become mask tests, and a year is 6 such words — no per-day rows
    survive past the first reduction. The q128 sliding-distinct and q202
    adoption curves read the same signal relationally; the bitmap form
    is what serving layers store."""
    ev = load(spark, sf_dir, "events")
    day_bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), "
        "CAST(datediff(to_date(ts), DATE '2024-01-01') AS INT))"
    )
    b = ev.groupBy("user_id").agg(F.bit_or(day_bit).alias("days_bm"))
    return b.groupBy(
        F.bit_count("days_bm").cast("bigint").alias("n_active_days")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(
            F.when(F.col("days_bm").bitwiseAND(F.lit(7)) == 7, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_active_first3_streak"),
    )


@query(
    "q232_sketch_rollup_merge",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d, user_id FROM events
    ),
    daily AS (
      SELECT event_type, d, hv FROM (
        SELECT event_type, d, {_H60} AS hv,
               ROW_NUMBER() OVER (PARTITION BY event_type, d ORDER BY {_H60}) AS rn
        FROM keys
      ) WHERE rn <= {KMV_K}
    ),
    wk AS (
      SELECT event_type,
             CAST(floor((d - DATE '2024-01-01') / 7) AS BIGINT) AS week,
             hv
      FROM daily GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, week, MAX(hv) AS hk, COUNT(*) AS kk FROM (
        SELECT event_type, week, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type, week ORDER BY hv) AS rn
        FROM wk
      ) WHERE rn <= {KMV_K} GROUP BY event_type, week
    ),
    direct_keys AS (
      SELECT DISTINCT event_type,
             CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS BIGINT) AS week,
             user_id
      FROM events
    ),
    direct AS (
      SELECT event_type, week, MAX(hv) AS hk, COUNT(*) AS kk FROM (
        SELECT event_type, week, {_H60} AS hv,
               ROW_NUMBER() OVER (PARTITION BY event_type, week ORDER BY {_H60}) AS rn
        FROM direct_keys
      ) WHERE rn <= {KMV_K} GROUP BY event_type, week
    )
    SELECT m.event_type, m.week,
           CASE WHEN m.kk < {KMV_K} THEN CAST(m.kk AS DOUBLE)
                ELSE ({KMV_K} - 1.0) * {HASH_M!r} / CAST(m.hk AS DOUBLE)
           END AS est_from_merge,
           CASE WHEN d.kk < {KMV_K} THEN CAST(d.kk AS DOUBLE)
                ELSE ({KMV_K} - 1.0) * {HASH_M!r} / CAST(d.hk AS DOUBLE)
           END AS est_direct
    FROM merged m JOIN direct d
      ON d.event_type = m.event_type AND d.week = m.week
    """,
)
def q232_sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-SKETCH ROLLUP — the pre-aggregation serving pattern
    (Druid/datasketches style): materialize a small KMV sketch per
    (event_type, day), then answer WEEKLY distinct-count questions by
    MERGING the daily sketches (union → keep k smallest) instead of
    re-scanning raw events. Correctness is provable, not approximate-
    on-approximate: any hash among the k smallest of the week is
    necessarily among the k smallest of its own day, so merge-of-daily
    ≡ direct-weekly EXACTLY — and the query emits both paths so the
    oracle (and test_sketch_merge_identity) pins the identity. At
    100 TB the daily sketch table is |types|·|days|·k rows — the raw
    scan happens once at ingest; every rollup after that reads sketches.
    The same merge shape serves month/quarter/arbitrary date ranges."""
    ev = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    # two consumers (the daily sketch path and the weekly direct-count
    # control). NOT checkpointed, with the final-adaptive-plan evidence
    # in plans/r12/q232_sketch_rollup_merge_final.txt: the optimizer
    # collapses distinct(type, week, user)-over-keys into a direct
    # distinct over a second column-pruned scan (legal: week is a pure
    # function of d, so the projected key SET is identical), which means
    # the two consumers do NOT share a canonical subtree and AQE stage
    # reuse cannot fire. Forcing one scan with a localCheckpoint was
    # measured SLOWER (same-session interleaved A/B, 5 reps at sf0.1,
    # ab_q459_q232_r12.py, deleted; in git history at 953e8f3: no-ckpt
    # 1.44 s [1.31, 2.97] vs
    # lazy-ckpt 2.14 s [1.72, 3.30] vs the r11 two-scan plan 1.80 s
    # [1.50, 2.35]) — and the daily key rollup dedups only ~0.80 of the
    # events rows (measured scale-invariant: 0.804 at sf0.01, 0.807 at
    # sf0.1), so the checkpoint writes+reads ~80% of the fact table as
    # uncompressed blocks to save one 3-column zstd parquet scan. Two
    # pruned scans is the cheaper shape at every scale for this dedup
    # ratio.
    keys = ev.select("event_type", F.to_date("ts").alias("d"), "user_id").distinct()
    dw = Window.partitionBy("event_type", "d").orderBy("hv")
    daily = (
        keys.select("event_type", "d", h.alias("hv"))
        .withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    week = F.floor(F.datediff(F.col("d"), F.lit("2024-01-01")) / 7).cast("bigint")
    wk = daily.select("event_type", week.alias("week"), "hv").distinct()
    mw = Window.partitionBy("event_type", "week").orderBy("hv")
    merged = (
        wk.withColumn("rn", F.row_number().over(mw))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type", "week")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("kk"))
    )
    # r12: the weekly key set is WRITTEN as derived-from-keys (the
    # logical identity: distinct(type, week, user) over keys ≡ distinct
    # over raw events because week is a pure function of d), but the
    # optimizer collapses it back to a direct distinct over its own
    # pruned scan — see the comment and measurements at `keys` above.
    # Oracle unchanged, hash-certified.
    direct_keys = keys.select(
        "event_type",
        week.alias("week"),
        "user_id",
    ).distinct()
    direct = (
        direct_keys.select("event_type", "week", h.alias("hv"))
        .withColumn("rn", F.row_number().over(mw))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type", "week")
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("kk"))
    )

    def est(kk, hk):
        return F.when(kk < KMV_K, kk.cast("double")).otherwise(
            F.lit(KMV_K - 1.0) * F.lit(HASH_M) / hk.cast("double")
        )

    m = merged.alias("m")
    d_ = direct.alias("d")
    return m.join(d_, ["event_type", "week"]).select(
        "event_type",
        "week",
        est(F.col("m.kk"), F.col("m.hk")).alias("est_from_merge"),
        est(F.col("d.kk"), F.col("d.hk")).alias("est_direct"),
    )


@query(
    "q288_consistent_hash_rebalance",
    oracle="""
    WITH keys AS (
      SELECT c_custkey AS k,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':ring'), 1, 15)
                  AS BIGINT) AS ring
      FROM customer
    ),
    assign AS (
      SELECT k,
             k % 8 AS mod8, k % 9 AS mod9,
             ring % 8 AS ring8,
             ring % 9 AS ring9
      FROM keys
    )
    SELECT 'mod-N' AS scheme,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS moved_ppm
    FROM assign
    UNION ALL
    SELECT 'rendezvous',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(moved) AS BIGINT),
           CAST(SUM(moved) * 1000000 // COUNT(*) AS BIGINT)
    FROM (
      SELECT k,
             CASE WHEN (
               SELECT s FROM (
                 SELECT t.s AS s,
                        CAST('0x' || substr(md5(CAST(keys.k AS VARCHAR) || ':s'
                             || CAST(t.s AS VARCHAR)), 1, 15) AS BIGINT) AS w
                 FROM unnest(generate_series(0, 7)) AS t(s)
                 ORDER BY w DESC, s LIMIT 1
               )
             ) <> (
               SELECT s FROM (
                 SELECT t.s AS s,
                        CAST('0x' || substr(md5(CAST(keys.k AS VARCHAR) || ':s'
                             || CAST(t.s AS VARCHAR)), 1, 15) AS BIGINT) AS w
                 FROM unnest(generate_series(0, 8)) AS t(s)
                 ORDER BY w DESC, s LIMIT 1
               )
             ) THEN 1 ELSE 0 END AS moved
      FROM keys
    )
    """,
)
def q288_consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD-REBALANCING ANALYSIS: growing a cluster from 8 to 9 shards
    under (a) naive mod-N assignment and (b) RENDEZVOUS (highest-random-
    weight) hashing — the report that justifies consistent-hashing
    infrastructure with numbers: mod-N moves ~8/9 of all keys (every
    residue class reshuffles), rendezvous moves only the ~1/9 whose new
    shard 8 wins the weight race, because every existing shard's weight
    for a key is UNCHANGED by adding one more. Both schemes compute
    exactly from md5 weights (argmax via max-of-struct with the weight
    in front — associative, no window); the movement fractions are
    integer ppm. The same rendezvous argmax is how the q249 corpus
    index and q232's sketch store assign partitions without mass
    migration on growth."""
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    keys = c.select(k.alias("k"))

    def hrw_shard(n_shards):
        weights = F.array(
            *[
                F.struct(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("k").cast("string"), F.lit(f":s{s}")
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    )
                    .cast("bigint")
                    .alias("w"),
                    F.lit(-s).alias("neg_s"),  # ties -> smaller shard id wins
                )
                for s in range(n_shards)
            ]
        )
        return -F.array_max(weights).getField("neg_s")

    assign = keys.select(
        "k",
        (F.col("k") % 8).alias("mod8"),
        (F.col("k") % 9).alias("mod9"),
        hrw_shard(8).alias("hrw8"),
        hrw_shard(9).alias("hrw9"),
    )
    modn = assign.agg(
        F.lit("mod-N").alias("scheme"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("mod8") != F.col("mod9"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
        F.expr(
            "CAST(SUM(CASE WHEN mod8 <> mod9 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("moved_ppm"),
    )
    hrw = assign.agg(
        F.lit("rendezvous").alias("scheme"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("hrw8") != F.col("hrw9"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
        F.expr(
            "CAST(SUM(CASE WHEN hrw8 <> hrw9 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("moved_ppm"),
    )
    return modn.unionAll(hrw)


QN_RANK_BLOCK = 1024  # rank-space block size for the distributed lookup


@query(
    "q306_quantile_normalize",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'error')
    ),
    g AS (
      SELECT event_id, event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n_g,
             COUNT(*) OVER () AS n
      FROM s
    ),
    hist AS (SELECT cents AS hcents, COUNT(*) AS cnt FROM s GROUP BY cents),
    ch AS (
      SELECT hcents,
             SUM(cnt) OVER (ORDER BY hcents ROWS UNBOUNDED PRECEDING) AS hi,
             SUM(cnt) OVER (ORDER BY hcents ROWS UNBOUNDED PRECEDING)
               - cnt + 1 AS lo
      FROM hist
    ),
    q AS (
      SELECT event_id, event_type, cents,
             (r * n + n_g - 1) // n_g AS k
      FROM g
    )
    SELECT q.event_id, q.event_type, q.cents,
           CAST(ch.hcents AS BIGINT) AS norm_cents
    FROM q JOIN ch ON q.k BETWEEN ch.lo AND ch.hi
    """,
)
def q306_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION — map every group's values onto the pooled
    distribution by matching relative rank (batch-effect correction;
    for LLM pipelines: calibrating scores across judges who use the
    scale differently — a harsh grader's p90 becomes THE pooled p90).
    Exact and integer: within-group rank r (event_id tiebreak) maps to
    pooled target rank k = ceil(r·N/n_g) via (r·N + n_g − 1) DIV n_g,
    and the pooled value at rank k comes from the distinct-value
    cumulative histogram (q218's bounded support), whose contiguous
    [lo, hi] rank ranges tile 1..N.

    The rank lookup is the scale move: instead of a global
    sort-position join (single reducer) or a BETWEEN nested loop, each
    histogram range explodes onto the rank-space blocks it covers
    (block = (k−1) DIV {B}) and the lookup becomes an EQUI-join on
    block + an in-block range filter — q279's spatial-grid trick on
    the rank axis; explosion is bounded by support + N/{B}. Property:
    normalization preserves within-group order and maps each group's
    top rank to the pooled max.""".replace("{B}", str(QN_RANK_BLOCK))
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "error")).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    n_tot = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    wg = Window.partitionBy("event_type").orderBy("cents", "event_id")
    g = (
        s.withColumn("r", F.row_number().over(wg).cast("long"))
        .withColumn(
            "n_g", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        )
        .crossJoin(F.broadcast(n_tot))
    )
    q = g.select(
        "event_id",
        "event_type",
        "cents",
        F.expr("(r * n + n_g - 1) DIV n_g").alias("k"),
    )
    hist = s.groupBy(F.col("cents").alias("hcents")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wh = Window.orderBy("hcents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ch = hist.select(
        "hcents",
        F.sum("cnt").over(wh).alias("hi"),
        (F.sum("cnt").over(wh) - F.col("cnt") + 1).alias("lo"),
    )
    B = QN_RANK_BLOCK
    ch_blocked = ch.select(
        "hcents",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr(f"(lo - 1) DIV {B}"), F.expr(f"(hi - 1) DIV {B}")
            )
        ).alias("blk"),
    )
    q_blocked = q.withColumn("blk", F.expr(f"(k - 1) DIV {B}"))
    return (
        q_blocked.join(ch_blocked, "blk")
        .filter((F.col("k") >= F.col("lo")) & (F.col("k") <= F.col("hi")))
        .select(
            "event_id",
            "event_type",
            "cents",
            F.col("hcents").cast("bigint").alias("norm_cents"),
        )
    )


DENSITY_VALUE_BIN = 25  # dollars per value bin


@query(
    "q329_density_grid",
    oracle=f"""
    SELECT event_type,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 // 3600 AS BIGINT)
             AS hour_of_day,
           CAST(floor(value) AS BIGINT) // {DENSITY_VALUE_BIN} AS value_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q329_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSITY GRID — the datashader move: a scatter plot of 100 TB of
    events is not 10^12 points shipped to a browser, it's a bounded
    (series x hour-of-day x value-bin) grid of counts and sums
    aggregated WHERE THE DATA LIVES, rendered client-side as a
    heatmap. Output cardinality is fixed by the grid (5 x 24 x
    25-dollar bins), independent of input rows — the
    property that makes dashboards over raw events possible at all.
    Integer bin arithmetic (epoch mod 86400 int-div 3600; dollars
    int-div 25) so every point lands in the same cell
    on every engine; sums carried in cents for exact drill-through
    (the cell's sum/n reproduces the tooltip average with no float
    re-aggregation). One map-side-combining rollup — the cheapest
    query in the repo per byte scanned, by design."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.expr("CAST(ts AS LONG) % 86400 DIV 3600")
        .cast("bigint")
        .alias("hour_of_day"),
        F.expr(f"CAST(floor(value) AS BIGINT) DIV {DENSITY_VALUE_BIN}")
        .cast("bigint")
        .alias("value_bin"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("sum_cents"),
    )


@query(
    "q333_median_ci",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    hist AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    ranks AS (
      SELECT event_type, cents, c, n,
             (n + 1) // 2 AS k_med,
             GREATEST(CAST(floor((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                      AS BIGINT), 1) AS k_lo,
             LEAST(CAST(ceil((n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2)
                   AS BIGINT) + 1, n) AS k_hi
      FROM cum
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN c >= k_med THEN cents END) AS BIGINT)
             AS median_cents,
           CAST(MIN(CASE WHEN c >= k_lo THEN cents END) AS BIGINT) AS ci_lo,
           CAST(MIN(CASE WHEN c >= k_hi THEN cents END) AS BIGINT) AS ci_hi
    FROM ranks GROUP BY event_type
    """,
)
def q333_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-FREE median confidence interval — the order-
    statistics result that needs NO bootstrap and NO normality: a 95%
    CI for the median is simply the values at ranks
    (n ± 1.96·√n)/2 (the binomial(n, ½) normal approximation — the
    only transcendental is sqrt, the one function IEEE-754 requires
    correctly rounded, hence engine-identical: the house sqrt
    exemption). Where q172 bootstraps B=32 resamples to get a
    variance, this reads the CI straight off the cumulative histogram
    — three rank-selects (q93's machinery) instead of 32 passes, the
    100 TB way to put error bars on a median. Rank arithmetic floors/
    ceils doubles built only from n — deterministic; selection is the
    min-value-reaching-rank rule over the bounded support. Property-
    tested: ci_lo <= median <= ci_hi, and the interval covers the
    true median rank by construction."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    hist = s.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    ranks = cum.select(
        "event_type",
        "cents",
        "c",
        "n",
        F.expr("(n + 1) DIV 2").alias("k_med"),
        F.greatest(
            F.floor(
                (F.col("n") - 1.96 * F.sqrt(F.col("n").cast("double"))) / 2
            ).cast("long"),
            F.lit(1).cast("long"),
        ).alias("k_lo"),
        F.least(
            F.ceil(
                (F.col("n") + 1.96 * F.sqrt(F.col("n").cast("double"))) / 2
            ).cast("long")
            + 1,
            F.col("n"),
        ).alias("k_hi"),
    )
    return ranks.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(F.col("c") >= F.col("k_med"), F.col("cents")))
        .cast("bigint")
        .alias("median_cents"),
        F.min(F.when(F.col("c") >= F.col("k_lo"), F.col("cents")))
        .cast("bigint")
        .alias("ci_lo"),
        F.min(F.when(F.col("c") >= F.col("k_hi"), F.col("cents")))
        .cast("bigint")
        .alias("ci_hi"),
    )


@query(
    "q340_var_cvar",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    pnl AS (
      SELECT event_type,
             cents - LAG(cents) OVER (PARTITION BY event_type ORDER BY d)
               AS delta
      FROM daily
    ),
    dd AS (SELECT event_type, delta FROM pnl WHERE delta IS NOT NULL),
    hist AS (
      SELECT event_type, delta, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM dd GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, delta,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY delta
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    var95 AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN c >= (n + 19) // 20 THEN delta END) AS var_cents
      FROM cum GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(v.n AS BIGINT) AS n_days,
           CAST(v.var_cents AS BIGINT) AS var95_cents,
           CAST(SUM(CASE WHEN d.delta <= v.var_cents THEN d.delta ELSE 0 END)
             AS BIGINT) AS tail_sum_cents,
           CAST(SUM(CASE WHEN d.delta <= v.var_cents THEN 1 ELSE 0 END)
             AS BIGINT) AS tail_n,
           CAST(SUM(CASE WHEN d.delta <= v.var_cents THEN d.delta ELSE 0 END)
             AS DOUBLE)
             / SUM(CASE WHEN d.delta <= v.var_cents THEN 1 ELSE 0 END)
             AS cvar95_cents
    FROM dd d JOIN var95 v ON v.event_type = d.event_type
    GROUP BY v.event_type, v.n, v.var_cents
    """,
)
def q340_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-AT-RISK and EXPECTED SHORTFALL — the risk desk's two
    numbers over a P&L series (here day-over-day revenue deltas per
    stream): VaR95 is the 5th-percentile loss (exact ceil-rank select
    over the delta histogram — q93's machinery pointed at the LEFT
    tail), and CVaR/ES is the MEAN of everything at or below it — the
    coherent risk measure Basel moved to precisely because VaR alone
    ignores how bad the tail is. CVaR's division is the one float: the
    tail sum and count are reported as exact integers (re-blendable
    across desks — the q21 rule), and the mean divides once at the
    edge. Deliberately NOT integer-DIV'd: Spark's DIV truncates toward
    zero while DuckDB's // floors, and tail sums are NEGATIVE — the
    one integer-arithmetic corner where the house ppm idiom would
    hash-mismatch, documented here as the counterexample. Bounded
    passes throughout: calendar-sized series, support-sized
    histogram."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wl = Window.partitionBy("event_type").orderBy("d")
    dd = (
        daily.withColumn("delta", F.col("cents") - F.lag("cents").over(wl))
        .filter(F.col("delta").isNotNull())
        .select("event_type", "delta")
    )
    hist = dd.groupBy("event_type", "delta").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "delta",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    var95 = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("c") >= F.expr("(n + 19) DIV 20"), F.col("delta"))
        ).alias("var_cents"),
    )
    j = dd.join(F.broadcast(var95), "event_type")
    in_tail = F.col("delta") <= F.col("var_cents")
    return j.groupBy("event_type", "n", "var_cents").agg(
        F.sum(F.when(in_tail, F.col("delta")).otherwise(0))
        .cast("long")
        .alias("tail_sum_cents"),
        F.sum(F.when(in_tail, 1).otherwise(0)).cast("long").alias("tail_n"),
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("var_cents").cast("bigint").alias("var95_cents"),
        F.col("tail_sum_cents").cast("bigint"),
        F.col("tail_n").cast("bigint"),
        (F.col("tail_sum_cents").cast("double") / F.col("tail_n")).alias(
            "cvar95_cents"
        ),
    )


@query(
    "q424_kde_epanechnikov",
    oracle="""
    WITH vals AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n_g AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM vals GROUP BY 1
    ),
    grid AS (SELECT CAST(x AS BIGINT) AS g FROM range(0, 500, 10) t(x)),
    contrib AS (
      SELECT v.event_type, grid.g,
             CAST(SUM(v.c * (625 - (grid.g - v.v) * (grid.g - v.v)))
                  AS BIGINT) AS num
      FROM grid JOIN vals v ON ABS(grid.g - v.v) < 25
      GROUP BY v.event_type, grid.g
    )
    SELECT n.event_type, grid.g AS grid_x,
           CAST(COALESCE(c.num, 0) AS BIGINT) AS density_num,
           (3.0 * COALESCE(c.num, 0)) / (4.0 * n.n * 15625)
             AS density
    FROM n_g n CROSS JOIN grid
    LEFT JOIN contrib c ON c.event_type = n.event_type AND c.g = grid.g
    """,
)
def q424_kde_epanechnikov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KERNEL DENSITY ESTIMATE with the EPANECHNIKOV kernel on a fixed
    50-point grid per event type — the smooth upgrade of q329's binned
    density grid, and the reason this kernel (not the Gaussian) is the
    distributed choice: K(u) = ¾(1−u²) is a POLYNOMIAL with compact
    support, so every contribution c·(h² − (g−v)²) is an EXACT integer
    (h = 25) and the infinite-tail exp() that would break cross-engine
    parity never appears — plus it is the MSE-optimal kernel anyway
    (Epanechnikov 1969). Scale shape: raw values compress to ~210
    distinct integers per group (the q422 move), the 50-point grid
    broadcasts, and the |g−v| < h band join + grouped integer sum is
    input-size independent after the first aggregate. Zero-mass grid
    points survive via the LEFT join from the (event_type × grid)
    frame — a density CURVE has explicit zeros, not missing rows. The
    single float division 3·num/(4·n·h³) happens once per output row.
    Property tests: numpy replay matches exactly; the density
    integrates to ≈ 1 (trapezoid over the grid); every point is
    nonneg; plus the known-bandwidth sanity that mass concentrates
    where the histogram does."""
    ev = load(spark, sf_dir, "events")
    vals = ev.groupBy(
        "event_type", F.floor("value").cast("long").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_g = vals.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    grid = spark.range(0, 50).select((F.col("id") * 10).cast("long").alias("g"))
    contrib = (
        F.broadcast(grid)
        .join(vals, F.abs(grid.g - vals.v) < 25)
        .groupBy("event_type", "g")
        .agg(
            F.sum(
                F.col("c") * (625 - (F.col("g") - F.col("v")) * (F.col("g") - F.col("v")))
            )
            .cast("long")
            .alias("num")
        )
    )
    frame = n_g.crossJoin(F.broadcast(grid))
    return (
        frame.join(contrib, ["event_type", "g"], "left")
        .select(
            "event_type",
            F.col("g").alias("grid_x"),
            F.coalesce("num", F.lit(0)).cast("long").alias("density_num"),
            ((3.0 * F.coalesce("num", F.lit(0))) / (4.0 * F.col("n") * 15625)).alias(
                "density"
            ),
        )
    )


@query(
    "q456_hash_uniformity_audit",
    oracle="""
    WITH b AS (
      SELECT CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':unif'),
                  1, 8) AS BIGINT) % 64 AS bucket
      FROM customer
    ),
    cnt AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bucket
    ),
    full_grid AS (
      SELECT CAST(g.x AS BIGINT) AS bucket, COALESCE(c.n, 0) AS n
      FROM (SELECT UNNEST(range(0, 64)) AS x) g
      LEFT JOIN cnt c ON c.bucket = g.x
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM full_grid)
    SELECT CAST(64 AS BIGINT) AS n_buckets,
           t.total,
           CAST(MIN(f.n) AS BIGINT) AS min_bucket,
           CAST(MAX(f.n) AS BIGINT) AS max_bucket,
           CAST(SUM((64 * f.n - t.total) * (64 * f.n - t.total)) AS BIGINT)
             AS chi2_num_x64t,
           CAST(SUM((64 * f.n - t.total) * (64 * f.n - t.total)) AS DOUBLE)
             / (64.0 * t.total) AS chi2_stat,
           CAST(SUM((64 * f.n - t.total) * (64 * f.n - t.total)) AS DOUBLE)
             / (64.0 * t.total) < 82.53 AS uniform_at_5pct
    FROM full_grid f CROSS JOIN tot t
    GROUP BY t.total
    """,
)
def q456_hash_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-UNIFORMITY SELF-AUDIT — the infrastructure eating its own
    dogfood: every deterministic sampling, splitting, salting, and
    bucketing decision in this repo (q73, q80, q87, q288, q293, q440…)
    rests on 'md5 residues are uniform'; THIS query tests that
    assumption with the same exact-arithmetic discipline it audits.
    64 buckets over salted customer keys, Pearson χ² against the
    uniform expectation carried as an EXACT integer numerator —
    Σ(64·n_b − N)² is divided exactly once by 64N (q158's
    cross-multiplied contingency trick with equal expected counts),
    compared against the df=63, α=0.05 critical value 82.53 (a
    literal, not a distribution function — no incomplete gammas
    anywhere near the hash path). Empty buckets survive via the
    explicit 64-row grid LEFT join (a missing bucket is the strongest
    possible evidence AGAINST uniformity and must not vanish from the
    audit — q424's zero-cell rule). One scan, one 64-row aggregate.
    Property tests: python χ² replay; a deliberately BROKEN hash
    (key mod 64 on keys 0..1499 — residues 0..27 get 24 keys, 28..63
    get 23) still passes χ² while max-min exposes it, and a
    constant-bucket fixture fails catastrophically — the test
    documents both what χ² catches and what it cannot."""
    c = load(spark, sf_dir, "customer")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":unif"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 64
    )
    cnt = c.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = spark.range(0, 64).select(F.col("id").cast("long").alias("bucket"))
    full_grid = grid.join(cnt, "bucket", "left").select(
        "bucket", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    tot = full_grid.agg(F.sum("n").cast("long").alias("total"))
    return (
        full_grid.crossJoin(F.broadcast(tot))
        .groupBy("total")
        .agg(
            F.lit(64).cast("long").alias("n_buckets"),
            F.min("n").cast("long").alias("min_bucket"),
            F.max("n").cast("long").alias("max_bucket"),
            F.sum(
                (64 * F.col("n") - F.col("total"))
                * (64 * F.col("n") - F.col("total"))
            )
            .cast("long")
            .alias("chi2_num_x64t"),
            (
                F.sum(
                    (64 * F.col("n") - F.col("total"))
                    * (64 * F.col("n") - F.col("total"))
                ).cast("double")
                / (64.0 * F.col("total"))
            ).alias("chi2_stat"),
            (
                F.sum(
                    (64 * F.col("n") - F.col("total"))
                    * (64 * F.col("n") - F.col("total"))
                ).cast("double")
                / (64.0 * F.col("total"))
                < 82.53
            ).alias("uniform_at_5pct"),
        )
        .select(
            "n_buckets",
            "total",
            "min_bucket",
            "max_bucket",
            "chi2_num_x64t",
            "chi2_stat",
            "uniform_at_5pct",
        )
    )


def _q475_oracle() -> str:
    from hoops_edge_database_etl_spark.queries import _ORACLES

    q80 = _ORACLES["q80_histogram_quantiles"]
    return f"""
    WITH est AS MATERIALIZED ({q80}),
    mx AS (
      SELECT CAST(MAX(cnt) AS BIGINT) AS max_bin_cnt
      FROM (SELECT COUNT(*) AS cnt FROM orders
            GROUP BY CAST(floor(o_totalprice / {Q80_BIN}) AS BIGINT))
    )
    SELECT e.quantile, e.n,
           CAST(ceil(e.quantile * CAST(e.n AS DOUBLE)) AS BIGINT) AS k,
           e.est,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE CAST(o.o_totalprice AS DOUBLE) < e.est) AS BIGINT)
             AS rank_lt,
           abs(CAST((SELECT COUNT(*) FROM orders o
                     WHERE CAST(o.o_totalprice AS DOUBLE) < e.est) AS BIGINT)
               - CAST(ceil(e.quantile * CAST(e.n AS DOUBLE)) AS BIGINT))
             AS rank_err,
           m.max_bin_cnt,
           abs(CAST((SELECT COUNT(*) FROM orders o
                     WHERE CAST(o.o_totalprice AS DOUBLE) < e.est) AS BIGINT)
               - CAST(ceil(e.quantile * CAST(e.n AS DOUBLE)) AS BIGINT))
             <= m.max_bin_cnt AS within_sketch_bound
    FROM est e CROSS JOIN mx m
    """


@query("q475_sketch_quantile_gate", oracle=_q475_oracle())
def q475_sketch_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH-ACCURACY GATE for q80's histogram quantiles — the q308/
    q251 recall-gate discipline applied to the quantile sketch: for
    each estimated quantile, measure its TRUE rank in the data (the
    strict count of values below the estimate — strict, because the
    interpolated estimate sits in (bin_lo, bin_hi] and a strict count
    is then provably sandwiched inside the bin's cumulative range)
    and compare the rank error against the sketch's STRUCTURAL
    guarantee: an equi-width histogram can misplace a quantile by at
    most its bin's population, so rank_err ≤ max bin count must hold
    for every quantile — not a tolerance we chose, a theorem the
    sketch must obey (the test also checks the SHARP per-bin version
    in Python; the query gates on the engine-computable global
    bound). Composition: q80's ENTIRE oracle embeds as a derived
    table (the q455 device) and the Spark side RE-INVOKES the
    registered q80 lineage, so one hash re-checks the sketch and its
    audit together. Cost: the five estimates broadcast against one
    scan of orders for the strict-rank counts (a 5-way conditional
    aggregate, not five scans); the bin histogram is the same
    aggregate q80 already runs. This is the gate a 100 TB profile
    pipeline runs BEFORE trusting sketch quantiles for partition
    sizing (q325/q153 consumers)."""
    from hoops_edge_database_etl_spark.queries import all_queries

    est = all_queries()["q80_histogram_quantiles"](spark, sf_dir)
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("v")
    )
    mx = (
        orders.groupBy(F.floor(F.col("v") / Q80_BIN).alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt").cast("long").alias("max_bin_cnt"))
    )
    ranks = (
        orders.crossJoin(F.broadcast(est))
        .groupBy("quantile", "n", "est")
        .agg(
            F.sum(F.when(F.col("v") < F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("rank_lt")
        )
    )
    k = F.ceil(F.col("quantile") * F.col("n").cast("double")).cast("long")
    err = F.abs(F.col("rank_lt") - k)
    return ranks.crossJoin(F.broadcast(mx)).select(
        "quantile",
        "n",
        k.alias("k"),
        "est",
        "rank_lt",
        err.alias("rank_err"),
        "max_bin_cnt",
        (err <= F.col("max_bin_cnt")).alias("within_sketch_bound"),
    )
