"""Data-layout operators: Z-order (Morton) clustering and the
min/max-stats block skipping it buys — the physical-design lever that
decides how much of 100 TB a 2-D predicate actually reads (Delta/Iceberg
OPTIMIZE ZORDER; the reference's Athena partition-projection tuning,
infra/glue_tables.tf, is the 1-D special case).

Everything is exact integer arithmetic (bit interleave via div/mod by
powers of two), so DuckDB replays the layout decision bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

Z_BITS = 8          # per-dimension resolution (x, y in 0..255)
Z_BLOCK_DIV = 256   # rows group into z >> 8 blocks (256 z-prefix "files")
BOX = (64, 127, 64, 127)  # the 2-D predicate: x in [64,127], y in [64,127]


def _seam_repeat(last_v, first_v) -> bool:
    """Batch/partition-seam repeat predicate for the q273 repeats kernel.

    Null contract (r11 ADVICE): null==null IS a repeat — this mirrors the
    pre-r10 whole-partition object-dtype numpy pass, where None == None
    compared True. A null on exactly one side is never a repeat. Kept
    module-level so the contract is unit-testable outside the kernel.
    """
    import pandas as pd

    ln, fn = bool(pd.isna(last_v)), bool(pd.isna(first_v))
    if ln or fn:
        return ln and fn
    return bool(first_v == last_v)


def _interleave_sql(xcol: str, ycol: str) -> str:
    """Morton code as pure div/mod/multiply — valid in Spark SQL and
    DuckDB alike (no engine-specific bit operators)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({xcol} % {1 << (i + 1)}) // {1 << i}) * {1 << (2 * i)}")
        terms.append(f"(({ycol} % {1 << (i + 1)}) // {1 << i}) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_SPARK_Z = _interleave_sql("x", "y").replace("//", "div")
_DUCK_Z = _interleave_sql("x", "y")

_X1, _X2, _Y1, _Y2 = BOX
_PRED = f"(x BETWEEN {_X1} AND {_X2} AND y BETWEEN {_Y1} AND {_Y2})"
_OVERLAP = (
    f"NOT (max_x < {_X1} OR min_x > {_X2} OR max_y < {_Y1} OR min_y > {_Y2})"
)


@query(
    "q133_zorder_skipping",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(o_custkey) AS mxx,
             MAX(CAST(floor(o_totalprice) AS BIGINT)) AS mxy
      FROM orders
    ),
    enc AS (
      SELECT (o_custkey * 256) // (mx.mxx + 1) AS x,
             (CAST(floor(o_totalprice) AS BIGINT) * 256) // (mx.mxy + 1) AS y
      FROM orders, mx
    ),
    z AS (SELECT x, y, ({_DUCK_Z}) AS zv FROM enc),
    blocks AS (
      SELECT 'zorder' AS layout, zv // {Z_BLOCK_DIV} AS block,
             COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             SUM(CASE WHEN {_PRED} THEN 1 ELSE 0 END) AS matched
      FROM z GROUP BY 1, 2
      UNION ALL
      SELECT 'linear_x', x, COUNT(*), MIN(x), MAX(x), MIN(y), MAX(y),
             SUM(CASE WHEN {_PRED} THEN 1 ELSE 0 END)
      FROM z GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN {_OVERLAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocks_scanned,
           CAST(SUM(CASE WHEN {_OVERLAP} THEN n ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(matched) AS BIGINT) AS rows_matched
    FROM blocks GROUP BY layout
    """,
)
def q133_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering evaluated by what it exists for — BLOCK
    SKIPPING under a 2-D predicate: orders are encoded to an
    8-bit×8-bit grid (dynamic min/max scaling, integer div — exact at
    any SF), Morton-interleaved (div/mod arithmetic, no UDF, no
    engine-specific bit ops), grouped into z-prefix blocks (the "files"
    a ZORDER-optimized table write would produce via
    repartitionByRange(zv) + sortWithinPartitions), and each block
    keeps min/max stats per dimension — exactly what parquet row-group
    footers store. The query reports, for the box predicate
    x∈[{x1},{x2}], y∈[{y1},{y2}]: blocks scanned and rows read under
    Z-order vs a linear single-column layout. Z-order bounds BOTH
    dims per block so ~15/16 of blocks prune; the linear layout prunes
    only on x and drags the full y range into every surviving block.
    At 100 TB this ratio is the difference between reading 6 TB and
    reading 25 TB for the same answer; the layout decision costs one
    range-partitioned write. The whole evaluation is two groupBys —
    no sort needed to MEASURE the layout.""".format(
        x1=_X1, x2=_X2, y1=_Y1, y2=_Y2
    )
    o = load(spark, sf_dir, "orders")
    mx = o.agg(
        F.max("o_custkey").alias("mxx"),
        F.max(F.floor("o_totalprice").cast("bigint")).alias("mxy"),
    )
    enc = o.crossJoin(F.broadcast(mx)).selectExpr(
        "(o_custkey * 256) div (mxx + 1) AS x",
        "(CAST(floor(o_totalprice) AS BIGINT) * 256) div (mxy + 1) AS y",
    )
    z = enc.selectExpr("x", "y", f"({_SPARK_Z}) AS zv")
    pred = F.expr(_PRED)

    def block_stats(df: DataFrame, layout: str, block: F.Column) -> DataFrame:
        return (
            df.groupBy(block.alias("block"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
                F.sum(F.when(pred, 1).otherwise(0)).alias("matched"),
            )
            .withColumn("layout", F.lit(layout))
        )

    blocks = block_stats(z, "zorder", F.expr(f"zv div {Z_BLOCK_DIV}")).unionByName(
        block_stats(z, "linear_x", F.col("x"))
    )
    overlap = F.expr(_OVERLAP)
    return blocks.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.when(overlap, 1).otherwise(0)).cast("bigint").alias("n_blocks_scanned"),
        F.sum(F.when(overlap, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("matched").cast("bigint").alias("rows_matched"),
    )


# --- block-level bloom-filter skipping (q149) -----------------------------

BLOOM_M = 512            # bits per block filter
BLOOM_ROWS = [           # (j, a, b): affine bit-position hashes
    (0, 1103515245, 12345),
    (1, 69069, 362437),
    (2, 1664525, 1013904223),
]
BLOOM_P = 2147483647
BLOOM_BLOCK = 1000       # rows per "file" (o_orderkey div BLOOM_BLOCK)
BLOOM_PROBES = (7, 42, 99)

_BLOOM_JT = (
    "SELECT j, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM (VALUES "
    + ", ".join(f"({j}, {a}, {b})" for j, a, b in BLOOM_ROWS)
    + ") AS t(j, a, b)"
)
_BLOOM_PT = (
    "SELECT CAST(probe AS BIGINT) AS probe FROM (VALUES "
    + ", ".join(f"({p})" for p in BLOOM_PROBES)
    + ") AS t(probe)"
)


@query(
    "q149_bloom_block_skipping",
    oracle=f"""
    WITH jt AS ({_BLOOM_JT}),
    pt AS ({_BLOOM_PT}),
    base AS (
      SELECT o_orderkey // {BLOOM_BLOCK} AS block, o_custkey AS key FROM orders
    ),
    bits AS (
      SELECT DISTINCT base.block,
             ((jt.a * base.key + jt.b) % {BLOOM_P}) % {BLOOM_M} AS bit
      FROM base CROSS JOIN jt
    ),
    bsz AS (SELECT block, COUNT(*) AS n_rows FROM base GROUP BY block),
    nb AS (SELECT CAST(COUNT(DISTINCT block) AS BIGINT) AS n_blocks FROM base),
    cand AS (
      SELECT pt.probe, bits.block
      FROM pt CROSS JOIN jt
      JOIN bits ON bits.bit = ((jt.a * pt.probe + jt.b) % {BLOOM_P}) % {BLOOM_M}
      GROUP BY pt.probe, bits.block
      HAVING COUNT(DISTINCT jt.j) = {len(BLOOM_ROWS)}
    ),
    act AS (
      SELECT DISTINCT pt.probe, base.block
      FROM pt JOIN base ON base.key = pt.probe
    )
    SELECT pt.probe AS probe, nb.n_blocks,
           CAST(COUNT(DISTINCT cand.block) AS BIGINT) AS n_blocks_maybe,
           CAST(COUNT(DISTINCT act.block) AS BIGINT) AS n_blocks_actual,
           CAST(COALESCE(SUM(bsz.n_rows), 0) AS BIGINT) AS rows_scanned
    FROM pt CROSS JOIN nb
    LEFT JOIN cand ON cand.probe = pt.probe
    LEFT JOIN act ON act.probe = pt.probe AND act.block = cand.block
    LEFT JOIN bsz ON bsz.block = cand.block
    GROUP BY pt.probe, nb.n_blocks
    """,
)
def q149_bloom_block_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level BLOOM skipping — the equality-predicate complement to
    q133's min/max stats (a point lookup on a SCATTERED column defeats
    min/max: every block's range covers every key; a per-block bloom
    filter prunes anyway). Each {bb}-row block keeps a {m}-bit filter =
    the DISTINCT bit positions of {k} affine hashes over its keys —
    built in one dedup shuffle of (block, bit) pairs, ≤ {m} rows of
    state per block, the parquet bloom_filter_enabled machinery made
    explicit and cross-engine checkable. A probe key scans a block only
    if ALL {k} of its bits are set (COUNT DISTINCT j = {k} per block —
    the conjunctive membership test as a join + HAVING). Emitted per
    probe: candidate blocks vs truly-containing blocks (the gap IS the
    false-positive rate, visible in the result) and rows actually
    scanned. At 100 TB these filters are what turn a needle-in-haystack
    lookup from a full scan into a few block reads.""".format(
        bb=BLOOM_BLOCK, m=BLOOM_M, k=len(BLOOM_ROWS)
    )
    o = load(spark, sf_dir, "orders")
    base = o.selectExpr(
        f"o_orderkey div {BLOOM_BLOCK} AS block", "o_custkey AS key"
    )
    jt = spark.createDataFrame(BLOOM_ROWS, "j int, a long, b long")
    pt = spark.createDataFrame([(p,) for p in BLOOM_PROBES], "probe long")
    bits = (
        base.crossJoin(F.broadcast(jt))
        .select(
            "block",
            "j",
            (((F.col("a") * F.col("key") + F.col("b")) % BLOOM_P) % BLOOM_M).alias(
                "bit"
            ),
        )
        .select("block", "bit")
        .distinct()
    )
    bsz = base.groupBy("block").agg(F.count(F.lit(1)).alias("n_rows"))
    nb = base.agg(F.countDistinct("block").cast("bigint").alias("n_blocks"))
    probe_bits = pt.crossJoin(F.broadcast(jt)).select(
        "probe",
        "j",
        (((F.col("a") * F.col("probe") + F.col("b")) % BLOOM_P) % BLOOM_M).alias(
            "bit"
        ),
    )
    cand = (
        probe_bits.join(bits, "bit")
        .groupBy("probe", "block")
        .agg(F.countDistinct("j").alias("nj"))
        .filter(F.col("nj") == len(BLOOM_ROWS))
        .select("probe", "block")
    )
    cand = cand.withColumnRenamed("block", "cblock")
    act = (
        pt.join(base, pt.probe == base.key)
        .select(F.col("probe").alias("aprobe"), F.col("block").alias("ablock"))
        .distinct()
    )
    bsz = bsz.withColumnRenamed("block", "bblock")
    return (
        pt.crossJoin(F.broadcast(nb))
        .join(cand, "probe", "left")
        .join(
            act,
            (F.col("aprobe") == F.col("probe")) & (F.col("ablock") == F.col("cblock")),
            "left",
        )
        # bsz is PER-BLOCK state — blocks = rows/block_size, corpus-
        # linear, so no broadcast hint (r12 audit: 2→15 blocks at 10×
        # data; at 100 TB this is a shuffled lookup, AQE broadcasts
        # while small)
        .join(bsz, F.col("bblock") == F.col("cblock"), "left")
        .groupBy("probe", "n_blocks")
        .agg(
            F.countDistinct("cblock").cast("bigint").alias("n_blocks_maybe"),
            F.countDistinct("ablock").cast("bigint").alias("n_blocks_actual"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("rows_scanned"),
        )
    )


# ---------------------------------------------------------------------------
# Histogram join-cardinality estimation (q199): the optimizer-statistics
# identity |A ⋈ B| = Σ_k a(k)·b(k). On FULL per-key histograms the
# "estimate" is EXACT — which is precisely what the hash check proves —
# and bucketed variants (what CBO actually stores) are the same plan over
# coarser keys.
# ---------------------------------------------------------------------------


@query(
    "q199_join_cardinality",
    oracle="""
    WITH ha AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na FROM orders GROUP BY 1
    ),
    hb AS (
      SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nb FROM customer GROUP BY 1
    ),
    est AS (
      SELECT CAST(SUM(na * nb) AS BIGINT) AS est_rows,
             CAST(COUNT(*) AS BIGINT) AS n_common_keys,
             CAST(MAX(na * nb) AS BIGINT) AS hottest_key_rows
      FROM ha JOIN hb ON hb.k = ha.k
    ),
    act AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT est_rows, actual_rows, n_common_keys, hottest_key_rows
    FROM est, act
    """,
)
def q199_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from per-key histograms: |A ⋈ B| = Σ na·nb
    over common keys — computed from two bounded count tables (the
    histograms a cost-based optimizer keeps), side-by-side with the
    ACTUAL join count so the hash check certifies the identity (on full
    histograms the estimate is exact; CBO's bucketed histograms run the
    identical plan over coarser keys and inherit the bucket-uniformity
    error). hottest_key_rows is the skew figure the q87/q104 machinery
    keys off — the same Σ na·nb decomposition localizes WHERE a join
    explodes before you run it.

    The histogram join is |keys|-sized; only the verification arm pays
    the real join — in production you drop it and keep the estimator."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ha = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("na")
    )
    hb = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    est = ha.join(hb, "k").agg(
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("est_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_common_keys"),
        F.max(F.col("na") * F.col("nb")).cast("bigint").alias("hottest_key_rows"),
    )
    act = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    return est.crossJoin(F.broadcast(act)).select(
        "est_rows", "actual_rows", "n_common_keys", "hottest_key_rows"
    )


@query(
    "q269_compaction_planner",
    oracle="""
    WITH files AS (
      -- stand-in manifest: one 'file' per (month, orderkey-bucket) with
      -- its actual row-bytes estimate (16 bytes/line)
      SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
             CAST(l_orderkey % 50 AS BIGINT) AS file_id,
             CAST(COUNT(*) * 16 AS BIGINT) AS bytes
      FROM lineitem GROUP BY 1, 2
    ),
    sized AS (
      SELECT part_month, file_id, bytes,
             CAST(COALESCE(SUM(bytes) OVER (
               PARTITION BY part_month ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM files WHERE bytes < 8192
    )
    SELECT part_month,
           CAST(cum_before // 16384 AS BIGINT) AS merge_group,
           CAST(COUNT(*) AS BIGINT) AS n_small_files,
           CAST(SUM(bytes) AS BIGINT) AS group_bytes
    FROM sized
    GROUP BY part_month, cum_before // 16384
    """,
)
def q269_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION PLAN — the lakehouse maintenance query:
    from a file manifest (stood in by per-(month, bucket) size
    estimates), select files under the small-file threshold and
    bin-pack them into ~16 KB merge groups by CUMULATIVE-SUM CUTTING
    (group = ⌊running-bytes-before / target⌋) within each partition —
    the q74 packing recipe pointed at file maintenance instead of
    token budgets. Each output row is one rewrite task: the compactor
    reads that group's files and writes one. The cumsum window is
    per-partition-month (bounded file counts by retention); groups can
    overshoot by at most one file (greedy cutting — the standard
    OPTIMIZE behavior, not an exact bin-pack, which is NP-hard and
    pointless at file granularity). Everything integer; the manifest
    scan is metadata-sized, never the data."""
    li = load(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_month"),
        (F.col("l_orderkey") % 50).cast("bigint").alias("file_id"),
    ).agg((F.count(F.lit(1)) * 16).cast("bigint").alias("bytes"))
    w = (
        Window.partitionBy("part_month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = files.filter(F.col("bytes") < 8192).withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0)).cast("bigint")
    )
    return sized.groupBy(
        "part_month",
        F.expr("CAST(cum_before DIV 16384 AS BIGINT)").alias("merge_group"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small_files"),
        F.sum("bytes").cast("bigint").alias("group_bytes"),
    )


@query(
    "q272_bloom_fpr_audit",
    oracle="""
    WITH member AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    ),
    bits AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':b' || CAST(h.i AS VARCHAR)),
                  1, 8) AS BIGINT) % 4096 AS bit
      FROM member, unnest([1, 2, 3]) AS h(i)
    ),
    probes AS (
      SELECT c.c_custkey AS k,
             CASE WHEN EXISTS (SELECT 1 FROM member m WHERE m.k = c.c_custkey)
                  THEN 1 ELSE 0 END AS is_member
      FROM customer c
    ),
    probe_hits AS (
      SELECT p.k, p.is_member,
             CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM bits b WHERE b.bit =
                 CAST('0x' || substr(md5(CAST(p.k AS VARCHAR) || ':b'
                      || CAST(h.i AS VARCHAR)), 1, 8) AS BIGINT) % 4096
             ) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM probes p, unnest([1, 2, 3]) AS h(i)
      GROUP BY p.k, p.is_member
    )
    SELECT CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(1 - is_member) AS BIGINT) AS n_non_members,
           CAST(SUM(CASE WHEN is_member = 1 AND n_hit = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS members_passed,
           CAST(SUM(CASE WHEN is_member = 0 AND n_hit = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(SUM(CASE WHEN is_member = 0 AND n_hit = 3 THEN 1 ELSE 0 END)
                * 1000000 // NULLIF(SUM(1 - is_member), 0) AS BIGINT)
             AS observed_fpr_ppm
    FROM probe_hits
    """,
)
def q272_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER FALSE-POSITIVE AUDIT — measure, don't trust, the
    filter's advertised rate: build a deterministic 4096-bit / 3-hash
    bloom over recent buyers (md5-derived bit positions — the q72 hash
    rule, so both engines build the IDENTICAL filter), probe every
    customer, and report members-passed (must be 100% — blooms have no
    false negatives, the test pins it) and the observed FPR in exact
    ppm against the non-member probe set. This is the calibration
    check behind q81's bloom semi join and q149's block skipping: the
    m/k sizing only pays if observed FPR tracks theory (~1.5% here).
    Plan: the bit set is an aggregate (broadcastable at 512 bytes);
    probes join it per hash — at 100 TB the real filter rides Spark's
    native bloom, and THIS query is how you regression-test its
    sizing."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    member = (
        o.filter(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )

    def bit(col, i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f":b{i}"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % 4096
        )

    bits = (
        member.select(
            F.explode(
                F.array(*[bit(F.col("k"), i) for i in (1, 2, 3)])
            ).alias("bit")
        )
        .distinct()
    )
    probes = c.select(F.col("c_custkey").alias("k")).join(
        member.withColumnRenamed("k", "mk"),
        F.col("k") == F.col("mk"),
        "left",
    ).select(
        "k", F.when(F.col("mk").isNotNull(), 1).otherwise(0).alias("is_member")
    )
    probe_bits = probes.select(
        "k",
        "is_member",
        F.explode(F.array(*[bit(F.col("k"), i) for i in (1, 2, 3)])).alias("pbit"),
    )
    probe_hits = (
        probe_bits.join(
            F.broadcast(bits), probe_bits.pbit == bits.bit, "left"
        )
        .groupBy("k", "is_member")
        .agg(
            F.sum(F.when(F.col("bit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit")
        )
    )
    return probe_hits.agg(
        F.sum("is_member").cast("bigint").alias("n_members"),
        F.sum(1 - F.col("is_member")).cast("bigint").alias("n_non_members"),
        F.sum(
            F.when((F.col("is_member") == 1) & (F.col("n_hit") == 3), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("members_passed"),
        F.sum(
            F.when((F.col("is_member") == 0) & (F.col("n_hit") == 3), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_positives"),
        F.expr(
            """CAST(SUM(CASE WHEN is_member = 0 AND n_hit = 3 THEN 1 ELSE 0 END)
               * 1000000 DIV NULLIF(SUM(1 - is_member), 0) AS BIGINT)"""
        ).alias("observed_fpr_ppm"),
    )


@query(
    "q273_codec_advisor",
    oracle="""
    WITH stats AS (
      SELECT 'l_returnflag' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
             CAST(SUM(CASE WHEN v = pv THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats
      FROM (SELECT l_returnflag AS v,
                   LAG(l_returnflag) OVER (ORDER BY l_orderkey, l_linenumber) AS pv
            FROM lineitem)
      UNION ALL
      SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT v) AS BIGINT),
             CAST(SUM(CASE WHEN v = pv THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_quantity AS v,
                   LAG(l_quantity) OVER (ORDER BY l_orderkey, l_linenumber) AS pv
            FROM lineitem)
      UNION ALL
      SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT v) AS BIGINT),
             CAST(SUM(CASE WHEN v = pv THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_extendedprice AS v,
                   LAG(l_extendedprice) OVER (ORDER BY l_orderkey, l_linenumber) AS pv
            FROM lineitem)
    )
    SELECT col_name, n, ndv, n_repeats,
           CASE WHEN ndv * 100 <= n THEN
                  CASE WHEN n_repeats * 2 >= n THEN 'DICT+RLE' ELSE 'DICT' END
                WHEN n_repeats * 2 >= n THEN 'RLE'
                ELSE 'PLAIN' END AS advised_codec
    FROM stats
    """,
)
def q273_codec_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COLUMN ENCODING ADVISOR — the statistics parquet writers use
    to pick encodings, surfaced as a report: NDV ratio (≤1% distinct →
    dictionary pays) and adjacent-repeat rate under the table's native
    sort (≥50% repeats → run-length pays), combined into a codec
    verdict per column. The repeat scan orders by the storage key
    (orderkey, linenumber) — run-length is a property OF A LAYOUT, not
    of a column, which is why q133's Z-order changes these verdicts
    (re-running this advisor after re-clustering is the point). The
    repeat scan runs once per audited column over the defined total
    order; production amortizes all columns into one pass. Integer
    thresholds only — the advice is reproducible, and the q254 varint
    estimate prices the winning codec's payload.

    Round 10 (global-window audit): the original global LAG funneled
    every corpus row through ONE reducer, three times — the worst
    corpus-proportional single-partition window on the board (the
    oracle keeps that form; DuckDB is single-node anyway). Distributed
    form: range-partition + sort on the storage key, count adjacent
    repeats WITHIN each partition in a STREAMING kernel (per Arrow
    batch, carrying only the previous batch's last value across the
    seam — per-task memory is batch-bounded, never corpus/P), then
    stitch the P boundary pairs with a lag over the P-row per-partition
    summary (bounded by the partition count, not the corpus). This
    removes the single-reducer funnel; P itself is a parallelism knob
    to scale with the cluster, not a memory bound. The n/ndv branches
    are value-pure aggregates, immune to range-boundary resampling;
    the repeat branch is one linear DAG over one kernel evaluation, so
    the boundaries it stitches are the boundaries it counted within."""
    import pandas as pd  # noqa: F401

    li = load(spark, sf_dir, "lineitem")
    P = 32  # range partitions for the repeat scan

    def stat(col):
        ftype = dict(zip(li.schema.names, li.schema.fields))[col].dataType.simpleString()

        def repeats_kernel(batches):
            # Streaming form (r10 ADVICE): the engine delivers the
            # partition pre-sorted (sortWithinPartitions below), so the
            # kernel counts repeats per Arrow batch and carries ONLY the
            # previous batch's last value across the seam — per-task
            # memory is O(batch), corpus-independent, instead of the
            # old concatenate-the-whole-partition buffer (corpus/P per
            # task, a per-executor OOM at scale).
            pidx = None
            cnt = 0
            rep = 0
            first_v = None
            last_v = None
            have_last = False  # distinguishes "no batch yet" from a null carry
            for pdf in batches:
                if not len(pdf):
                    continue
                if pidx is None:
                    pidx = int(pdf["pidx"].iloc[0])
                    first_v = pdf["v"].iloc[0]
                v = pdf["v"].to_numpy()
                rep += int((v[1:] == v[:-1]).sum())
                # Null contract (r11 ADVICE): a null==null seam COUNTS as a
                # repeat, matching the old whole-partition object-dtype pass
                # (None == None is True under numpy object equality). The
                # `have_last` flag — not `last_v is not None` — gates the
                # seam, so a null carried value still participates.
                if have_last and _seam_repeat(last_v, v[0]):
                    rep += 1
                last_v = pdf["v"].iloc[-1]
                have_last = True
                cnt += len(v)
            if pidx is None:
                return
            yield pd.DataFrame(
                {
                    "pidx": [pidx],
                    "cnt": [cnt],
                    "rep": [rep],
                    "first_v": [first_v],
                    "last_v": [last_v],
                }
            )

        summary = (
            li.select("l_orderkey", "l_linenumber", F.col(col).alias("v"))
            .repartitionByRange(P, "l_orderkey", "l_linenumber")
            .sortWithinPartitions("l_orderkey", "l_linenumber")
            .withColumn("pidx", F.spark_partition_id())
            .mapInPandas(
                repeats_kernel,
                f"pidx long, cnt long, rep long, first_v {ftype}, last_v {ftype}",
            )
        )
        # boundary stitch: P rows through one tiny window — bounded by
        # the partition count, never the corpus. Same null contract as the
        # kernel seam: null==null across a partition boundary is a repeat
        # (eqNullSafe), but partition 0's missing predecessor never counts
        # (has_prev distinguishes "no previous partition" from a null carry).
        wseam = Window.orderBy("pidx")
        prev_last = F.lag("last_v").over(wseam)
        has_prev = F.lag(F.lit(1)).over(wseam).isNotNull()
        rep_row = summary.select(
            "cnt",
            "rep",
            "first_v",
            prev_last.alias("prev_last"),
            has_prev.alias("has_prev"),
        ).agg(
            F.sum("cnt").cast("bigint").alias("n"),
            (
                F.sum("rep")
                + F.sum(
                    F.when(
                        F.col("has_prev")
                        & F.col("first_v").eqNullSafe(F.col("prev_last")),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("n_repeats"),
        )
        ndv_row = li.agg(F.countDistinct(col).cast("bigint").alias("ndv"))
        return rep_row.crossJoin(ndv_row).select(
            F.lit(col).alias("col_name"), "n", "ndv", "n_repeats"
        )

    stats = (
        stat("l_returnflag")
        .unionAll(stat("l_quantity"))
        .unionAll(stat("l_extendedprice"))
    )
    return stats.select(
        "col_name",
        "n",
        "ndv",
        "n_repeats",
        F.when(
            F.col("ndv") * 100 <= F.col("n"),
            F.when(F.col("n_repeats") * 2 >= F.col("n"), "DICT+RLE").otherwise(
                "DICT"
            ),
        )
        .when(F.col("n_repeats") * 2 >= F.col("n"), "RLE")
        .otherwise("PLAIN")
        .alias("advised_codec"),
    )


@query(
    "q275_index_advisor",
    oracle="""
    WITH w AS (
      SELECT 'orders.o_orderpriority = 1-URGENT' AS predicate,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS matched
      FROM orders
      UNION ALL
      SELECT 'orders.o_totalprice > 450000', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_shipdate in 1998-W01', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                            AND l_shipdate < TIMESTAMP '1998-01-08'
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_quantity = 1', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN CAST(l_quantity AS BIGINT) = 1 THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem
    )
    SELECT predicate, n, matched,
           CAST(matched * 1000000 // n AS BIGINT) AS selectivity_ppm,
           CASE WHEN matched * 100 <= n THEN 'cluster-or-index'
                WHEN matched * 10 <= n THEN 'zone-map-benefit'
                ELSE 'full-scan' END AS advice
    FROM w
    """,
)
def q275_index_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX / LAYOUT ADVISOR over a predicate workload — the physical-
    design loop closed: measure each recurring predicate's EXACT
    selectivity and grade the remedy (≤1% → cluster on it or index it;
    ≤10% → min/max zone maps already pay, q133/q149's territory; else
    the scan is the plan and the money goes to column pruning). The
    thresholds are integer cross-multiplies; selectivity lands in exact
    ppm. One pass per table (all that table's workload predicates fold
    into one conditional-counter aggregate — the q143 profiler shape),
    and the verdicts feed directly into which q133 Z-order / q269
    compaction run is worth scheduling. At 100 TB this query reads
    footer-level statistics in a real deployment; here it proves the
    decision arithmetic end to end."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def probe(df, name, cond):
        return df.agg(
            F.lit(name).alias("predicate"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias("matched"),
        )

    w = (
        probe(
            o,
            "orders.o_orderpriority = 1-URGENT",
            F.col("o_orderpriority") == "1-URGENT",
        )
        .unionAll(probe(o, "orders.o_totalprice > 450000", F.col("o_totalprice") > 450000))
        .unionAll(
            probe(
                li,
                "lineitem.l_shipdate in 1998-W01",
                (F.col("l_shipdate") >= "1998-01-01")
                & (F.col("l_shipdate") < "1998-01-08"),
            )
        )
        .unionAll(
            probe(
                li,
                "lineitem.l_quantity = 1",
                F.col("l_quantity").cast("bigint") == 1,
            )
        )
    )
    return w.select(
        "predicate",
        "n",
        "matched",
        F.expr("CAST(matched * 1000000 DIV n AS BIGINT)").alias("selectivity_ppm"),
        F.when(F.col("matched") * 100 <= F.col("n"), "cluster-or-index")
        .when(F.col("matched") * 10 <= F.col("n"), "zone-map-benefit")
        .otherwise("full-scan")
        .alias("advice"),
    )


# Width model per table: (string columns measured, fixed-width bytes/row).
_PART_ADVISOR_TABLES = {
    "region": (["r_name"], 4),
    "nation": (["n_name"], 8),
    "customer": (["c_name", "c_mktsegment"], 20),
    "supplier": (["s_name"], 20),
    "part": (["p_name", "p_brand", "p_type"], 20),
    "orders": (["o_orderstatus", "o_orderpriority"], 32),
    "lineitem": (["l_returnflag", "l_linestatus"], 72),
    "events": (["event_type", "props"], 32),
    "documents": (["text", "lang", "source"], 16),
    "embeddings": ([], 64 * 4 + 12),
}
SHUFFLE_TARGET_BYTES = 128 * 1024 * 1024  # in-memory partition target
FILE_TARGET_BYTES = 512 * 1024 * 1024    # on-disk file target


@query(
    "q325_partition_advisor",
    oracle=f"""
    WITH stats AS (
      {" UNION ALL ".join(
        f'''SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM({(" + ".join(f"strlen({c}) + 4" for c in cols) + " + ")
                      if cols else ""}{nfix}) AS BIGINT) AS est_bytes
            FROM {t}'''
        for t, (cols, nfix) in _PART_ADVISOR_TABLES.items())}
    )
    SELECT tbl, n_rows, est_bytes,
           est_bytes // n_rows AS avg_row_bytes,
           GREATEST(1, (est_bytes + {SHUFFLE_TARGET_BYTES} - 1)
                       // {SHUFFLE_TARGET_BYTES}) AS shuffle_partitions,
           GREATEST(1, (est_bytes + {FILE_TARGET_BYTES} - 1)
                       // {FILE_TARGET_BYTES}) AS target_files
    FROM stats
    """,
)
def q325_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SIZING ADVISOR — the nightly job that keeps
    spark.sql.shuffle.partitions and writer file counts tracking the
    DATA instead of a config fossil: per table, measured bytes (string
    widths summed from the scan + fixed widths per schema — the q319
    width model) divided by the 128 MB in-memory shuffle target and
    the 512 MB on-disk file target, ceil'd in integer arithmetic.
    Completes the physical-layout advisory trio: q269 finds the small
    files to compact, q273 picks their encodings, this sets HOW MANY
    to write and how wide the exchanges should be. AQE coalesces
    oversized shuffle fan-out at runtime, but the initial partition
    count still gates task-scheduling overhead and spill behavior —
    at 100 TB the difference between 200 and 800 lineitem partitions
    is a spilled join. One count+sum aggregate per table over pruned
    columns; recommendations are projections."""
    frames = []
    for t, (cols, nfix) in _PART_ADVISOR_TABLES.items():
        width = sum(
            (F.octet_length(c) + F.lit(4) for c in cols),
            F.lit(nfix).cast("long"),
        )
        frames.append(
            load(spark, sf_dir, t).agg(
                F.lit(t).alias("tbl"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(width).cast("long").alias("est_bytes"),
            )
        )
    stats = frames[0]
    for fr in frames[1:]:
        stats = stats.unionByName(fr)
    return stats.select(
        "tbl",
        F.col("n_rows").cast("bigint"),
        F.col("est_bytes").cast("bigint"),
        F.expr("est_bytes DIV n_rows").cast("bigint").alias("avg_row_bytes"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(est_bytes + {SHUFFLE_TARGET_BYTES} - 1) DIV {SHUFFLE_TARGET_BYTES}"
            ),
        )
        .cast("bigint")
        .alias("shuffle_partitions"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(est_bytes + {FILE_TARGET_BYTES} - 1) DIV {FILE_TARGET_BYTES}"),
        )
        .cast("bigint")
        .alias("target_files"),
    )


TIER_HOT_DAYS, TIER_WARM_DAYS = 2, 5
TIER_SNAPSHOT = "2024-01-31"
TIER_BYTES_PER_EVENT = 96  # modeled row footprint in the store


@query(
    "q387_storage_tiering",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(DATE '{TIER_SNAPSHOT}' - MAX(CAST(ts AS DATE)) AS BIGINT)
               AS idle_days
      FROM events GROUP BY user_id, event_type
    ),
    tiered AS (
      SELECT CASE WHEN idle_days <= {TIER_HOT_DAYS} THEN 'hot'
                  WHEN idle_days <= {TIER_WARM_DAYS} THEN 'warm'
                  ELSE 'cold' END AS tier,
             n_events
      FROM per_user
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS all_events FROM tiered)
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(t.n_events) AS BIGINT) AS n_events,
           CAST(SUM(t.n_events) * {TIER_BYTES_PER_EVENT} AS BIGINT)
             AS est_bytes,
           CAST(SUM(t.n_events) * 1000000 // x.all_events AS BIGINT)
             AS share_ppm
    FROM tiered t, tot x GROUP BY t.tier, x.all_events
    """,
)
def q387_storage_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORAGE-TIERING PLAN — the lifecycle policy every lakehouse bill
    eventually forces: partition the store by ACCESS RECENCY (each
    user's data is a partition; last event = last access) into
    hot (<= 2d idle, stays on NVMe/cache), warm
    (<= 5d, standard object storage), cold (archive
    tier), and price each tier's bytes — the what-if that justifies
    an S3 lifecycle rule with data instead of a guess. Completes the
    physical-economics shelf: q269 compacts files, q273 picks
    encodings, q325 sizes partitions, q377 sizes streaming state —
    this one places bytes on the price curve. Integer day buckets
    (q382's ladder), ppm shares, one per-key rollup. The property
    test checks the tiers partition the population and that tier
    shares shift monotonically when the thresholds widen."""
    ev = load(spark, sf_dir, "events")
    snap = F.lit(TIER_SNAPSHOT).cast("date")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.datediff(snap, F.max(F.to_date("ts"))).cast("long").alias("idle_days"),
    )
    tier = (
        F.when(F.col("idle_days") <= TIER_HOT_DAYS, "hot")
        .when(F.col("idle_days") <= TIER_WARM_DAYS, "warm")
        .otherwise("cold")
    )
    tiered = per_user.select(tier.alias("tier"), "n_events")
    tot = tiered.agg(F.sum("n_events").cast("long").alias("all_events"))
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            (F.sum("n_events") * TIER_BYTES_PER_EVENT)
            .cast("bigint")
            .alias("est_bytes"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tier",
            "n_partitions",
            "n_events",
            "est_bytes",
            F.expr("n_events * 1000000 DIV all_events")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


@query(
    "q446_sampled_join_estimate",
    oracle="""
    WITH sa AS (
      SELECT o_custkey AS k FROM orders
      WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':js'),
                 1, 8) AS BIGINT) % 16 = 0
    ),
    sb AS (
      SELECT c_custkey AS k FROM customer
      WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':js'),
                 1, 8) AS BIGINT) % 4 = 0
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) * 16 * 4 AS est_join_size,
             CAST(COUNT(*) AS BIGINT) AS sampled_pairs
      FROM sa JOIN sb ON sb.k = sa.k
    ),
    truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS true_join_size
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT e.sampled_pairs, e.est_join_size, t.true_join_size,
           CAST(e.est_join_size - t.true_join_size AS BIGINT) AS abs_err,
           CAST(e.est_join_size AS DOUBLE) / t.true_join_size AS ratio
    FROM est e CROSS JOIN truth t
    """,
)
def q446_sampled_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLING-BASED JOIN-SIZE ESTIMATION — the cheap cardinality probe
    a planner (or a human, before launching a 100 TB join) runs when
    q199's full per-key histograms are too expensive: Bernoulli-sample
    each side with a DETERMINISTIC hash coin (q80's discipline — md5
    residues, so both engines and every rerun draw the identical
    sample; p=1/16 on the fact side, 1/4 on the dim side), join the
    samples, and scale by 1/(p_a·p_b). The estimator is unbiased for
    ROW-LEVEL sampling on the fact side; the dim side samples KEYS
    (c_custkey is unique), which keeps the estimator unbiased while
    shrinking the build side — the asymmetry a real system exploits
    (sample rates should scale inversely with side size). Output
    carries the estimate, the exact truth (the audit a planner never
    gets — here the point is measuring estimator quality), signed
    error, and ratio; the pytest property seeds tolerance bands
    (ratio within [0.8, 1.25] at this sample size) and re-derives the
    estimate from raw sampled counts. At 100 TB only the two sampled
    fractions shuffle."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def coin(col, salt, mod):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(col).cast("string"), F.lit(salt))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % mod
            == 0
        )

    sa = o.filter(coin("o_orderkey", ":js", 16)).select(
        F.col("o_custkey").alias("k")
    )
    sb = c.filter(coin("c_custkey", ":js", 4)).select(
        F.col("c_custkey").alias("k")
    )
    est = sa.join(sb, "k").agg(
        F.count(F.lit(1)).cast("long").alias("sampled_pairs"),
        (F.count(F.lit(1)) * 16 * 4).cast("long").alias("est_join_size"),
    )
    truth = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).cast("long").alias("true_join_size"))
    )
    return est.crossJoin(F.broadcast(truth)).select(
        "sampled_pairs",
        "est_join_size",
        "true_join_size",
        (F.col("est_join_size") - F.col("true_join_size"))
        .cast("long")
        .alias("abs_err"),
        (F.col("est_join_size").cast("double") / F.col("true_join_size")).alias(
            "ratio"
        ),
    )


def _hilbert_duck(xcol: str, ycol: str) -> str:
    """xy → Hilbert d (order 8) as a list_reduce fold over the 8 bit
    levels; state [x, y, d], branchless rotation via CASE."""
    steps = ", ".join(f"[{1 << i}, 0, 0]" for i in range(Z_BITS - 1, -1, -1))
    return f"""list_reduce(
      list_prepend([CAST({xcol} AS BIGINT), CAST({ycol} AS BIGINT), 0],
                   [{steps}]),
      (a, e) -> [
        CASE WHEN (a[2] // e[1]) % 2 = 1 THEN a[1]
             WHEN (a[1] // e[1]) % 2 = 0 THEN a[2]
             ELSE e[1] - 1 - a[2] END,
        CASE WHEN (a[2] // e[1]) % 2 = 1 THEN a[2]
             WHEN (a[1] // e[1]) % 2 = 0 THEN a[1]
             ELSE e[1] - 1 - a[1] END,
        a[3] + e[1] * e[1] * (3 * ((a[1] // e[1]) % 2)
                              + ((a[2] // e[1]) % 2)
                              - 2 * ((a[1] // e[1]) % 2)
                                  * ((a[2] // e[1]) % 2))
      ]
    )[3]"""


def _hilbert_spark(df, xcol: str, ycol: str):
    steps = F.expr(
        "array(" + ", ".join(str(1 << i) for i in range(Z_BITS - 1, -1, -1)) + ")"
    )

    def step(a, s):
        x, y, d = F.element_at(a, 1), F.element_at(a, 2), F.element_at(a, 3)
        rx = (x / s).cast("long") % 2
        ry = (y / s).cast("long") % 2
        # quadrant offset: (3*rx) XOR ry over bits == 3rx + ry - 2rx*ry
        nd = d + s * s * (3 * rx + ry - 2 * rx * ry)
        nx = (
            F.when(ry == 1, x).when(rx == 0, y).otherwise(s - 1 - y)
        )
        ny = (
            F.when(ry == 1, y).when(rx == 0, x).otherwise(s - 1 - x)
        )
        return F.array(nx.cast("long"), ny.cast("long"), nd.cast("long"))

    init = F.array(
        F.col(xcol).cast("long"), F.col(ycol).cast("long"), F.lit(0).cast("long")
    )
    return F.element_at(F.aggregate(steps, init, step), 3)


@query(
    "q479_hilbert_locality",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(o_custkey) AS mxx,
             MAX(CAST(floor(o_totalprice) AS BIGINT)) AS mxy
      FROM orders
    ),
    enc AS (
      SELECT (o_custkey * 256) // (mx.mxx + 1) AS x,
             (CAST(floor(o_totalprice) AS BIGINT) * 256) // (mx.mxy + 1) AS y
      FROM orders, mx
    ),
    z AS (
      SELECT x, y, ({_DUCK_Z}) AS zv,
             ({_hilbert_duck("x", "y")}) AS hv
      FROM enc
    ),
    blocks AS (
      SELECT 'hilbert' AS layout, hv // {Z_BLOCK_DIV} AS block,
             COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             SUM(CASE WHEN {_PRED} THEN 1 ELSE 0 END) AS matched
      FROM z GROUP BY 1, 2
      UNION ALL
      SELECT 'zorder', zv // {Z_BLOCK_DIV}, COUNT(*), MIN(x), MAX(x),
             MIN(y), MAX(y), SUM(CASE WHEN {_PRED} THEN 1 ELSE 0 END)
      FROM z GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN {_OVERLAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocks_scanned,
           CAST(SUM(CASE WHEN {_OVERLAP} THEN n ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(matched) AS BIGINT) AS rows_matched
    FROM blocks GROUP BY layout
    """,
)
def q479_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE layout vs q133's Z-ORDER, same block-skipping
    experiment, same box predicate — the physical-design bake-off
    Delta/Iceberg users actually run (Hilbert preserves locality
    strictly better than Morton: consecutive curve positions are
    always grid-NEIGHBORS, so a 2-D box shatters across fewer curve
    ranges; Z-order's bit-interleave has O(1) encode but long
    diagonal jumps at quadrant seams). The xy→d Hilbert transform
    (Warren's HAKMEM-style iterative form) runs as a branchless
    8-step integer FOLD — state [x, y, d], per-level quadrant offset
    3·rx XOR ry expressed as 3rx + ry − 2rx·ry, rotation as a CASE —
    identical div/mod arithmetic in a Spark array-HOF aggregate and a
    DuckDB list_reduce (zero-state prepended), so the oracle replays
    the layout bit-for-bit. Output is q133's scan accounting for both
    curves on the identical encoded points; the rows_matched column
    must agree across layouts (the predicate doesn't care how rows
    are laid out — a built-in consistency check the test pins). The
    test also proves THE Hilbert property exhaustively at small
    order: consecutive d ⇒ Manhattan-adjacent cells, which is false
    for Morton — and asserts the bake-off conclusion on this data
    (hilbert scans ≤ zorder blocks for the box)."""
    o = load(spark, sf_dir, "orders")
    mx = o.agg(
        F.max("o_custkey").alias("mxx"),
        F.max(F.floor("o_totalprice").cast("long")).alias("mxy"),
    )
    enc = o.crossJoin(F.broadcast(mx)).select(
        F.expr("o_custkey * 256 div (mxx + 1)").alias("x"),
        F.expr("CAST(floor(o_totalprice) AS BIGINT) * 256 div (mxy + 1)").alias(
            "y"
        ),
    )
    z = enc.select(
        "x",
        "y",
        F.expr(_SPARK_Z).alias("zv"),
        _hilbert_spark(enc, "x", "y").alias("hv"),
    )

    def blocks(col, name):
        return (
            z.groupBy(F.expr(f"{col} div {Z_BLOCK_DIV}").alias("block"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.min("y").alias("min_y"),
                F.max("y").alias("max_y"),
                F.sum(F.when(F.expr(_PRED), 1).otherwise(0)).alias("matched"),
            )
            .withColumn("layout", F.lit(name))
        )

    b = blocks("hv", "hilbert").unionAll(blocks("zv", "zorder"))
    return b.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.when(F.expr(_OVERLAP), 1).otherwise(0))
        .cast("long")
        .alias("n_blocks_scanned"),
        F.sum(F.when(F.expr(_OVERLAP), F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("matched").cast("long").alias("rows_matched"),
    )
