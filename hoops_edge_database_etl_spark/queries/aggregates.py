"""Aggregation operators (SURVEY.md §2.4 A1–A14).

Everything is a single map-side-combinable ``groupBy().agg()`` — no
collect-and-loop (the reference aggregated 28M plays into one in-memory
Python dict, build_pbp_game_team_stats.py:155-266; here partial aggregation
happens before the shuffle, so the reduce side only sees one row per group
per map partition).

Second-moment statistics (stddev, corr) are computed from DECIMAL power sums
rather than Spark's native ``stddev``/``corr``: decimal sums are exact and
order-independent, so the result hash-matches DuckDB regardless of partition
count — the native double accumulators would drift in the last ulp.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DEC = "decimal(18,2)"


@query(
    "q21_weighted_avg",
    oracle="""
    SELECT
      p.p_brand,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)) * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        / CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS weighted_avg_price,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_weight
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def q21_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Σ(w·x)/Σw weighted average (A5: the reference's recency-weighted
    league averages, gold/iterative_ratings.py:131-139). The part side
    is size-gated, not hinted (r12 broadcast-growth audit: part scales
    with the corpus; AQE broadcasts while small, shuffles at scale)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    w = F.col("l_quantity").cast(DEC)
    x = F.col("l_extendedprice").cast(DEC)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(w * x).alias("_swx"), F.sum(w).alias("_sw"))
        .select(
            "p_brand",
            (F.col("_swx").cast("double") / F.col("_sw").cast("double")).alias(
                "weighted_avg_price"
            ),
            F.col("_sw").cast("double").alias("total_weight"),
        )
    )


@query(
    "q22_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS top_event_type, CAST(n AS BIGINT) AS n_occurrences
    FROM (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type ASC) AS rn
      FROM events
      GROUP BY user_id, event_type
    )
    WHERE rn = 1
    """,
)
def q22_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode — most common value per group with a deterministic tiebreak
    (A6: Counter.most_common(1) opponent inference,
    build_pbp_game_team_stats.py:89-96). count + row_number, not collect."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_event_type"),
            F.col("n").cast("bigint").alias("n_occurrences"),
        )
    )


def _moments(x: Column, y: Column) -> list[Column]:
    """Exact decimal power sums for second-moment statistics."""
    return [
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    ]


@query(
    "q23_pearson_corr",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / sqrt((n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                  * (n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS qty_price_corr
    FROM m
    """,
)
def q23_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (A13: hand-rolled in scripts/tune_ratings.py:49-63)
    from exact decimal power sums — order-independent across any partition
    count, unlike a streaming double accumulator."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    m = li.groupBy("l_returnflag").agg(*_moments(x, y))
    n = F.col("_n")
    # decimal → STRING → double: both engines parse decimal strings with
    # correct rounding, where a direct decimal→double cast double-rounds
    # in DuckDB (scaled-int ÷ 10^s in float) and can differ in the last
    # ulp (seen at sf0.001). The cast runs on aggregated rows only.
    def _d(c):
        return F.col(c).cast("string").cast("double")

    sx, sy = _d("_sx"), _d("_sy")
    sxx, syy, sxy = _d("_sxx"), _d("_syy"), _d("_sxy")
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "qty_price_corr"
        ),
    )


@query(
    "q24_error_metrics",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS sx,
             SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(abs(value - 100) AS DECIMAL(18,2))) AS sae
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(sx AS DOUBLE) / n AS mean_value,
           sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (n * (n - 1))) AS stddev_value,
           CAST(sae AS DOUBLE) / n AS mae_vs_100
    FROM m
    """,
)
def q24_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest-style error metrics — mean, sample stddev, MAE vs a target
    (A9: scripts/backtest_spreads.py:296-363)."""
    ev = load(spark, sf_dir, "events")
    x = F.col("value").cast(DEC)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(F.abs(F.col("value") - 100).cast(DEC)).alias("_sae"),
    )
    n = F.col("_n")
    sx, sxx = F.col("_sx").cast("double"), F.col("_sxx").cast("double")
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_events"),
        (sx / n).alias("mean_value"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - 1))).alias("stddev_value"),
        (F.col("_sae").cast("double") / n).alias("mae_vs_100"),
    )


@query(
    "q25_group_having",
    oracle="""
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(p_retailprice) AS DOUBLE) AS min_price,
           CAST(MAX(p_retailprice) AS DOUBLE) AS max_price
    FROM part
    GROUP BY p_type
    HAVING COUNT(*) > 20 AND MAX(p_retailprice) > 500
    """,
)
def q25_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (A14: the reference's Athena validation corpus,
    bronze_silver_validation_queries.sql:43-120)."""
    p = load(spark, sf_dir, "part")
    return (
        p.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.min("p_retailprice").cast("double").alias("min_price"),
            F.max("p_retailprice").cast("double").alias("max_price"),
        )
        .filter((F.col("n_parts") > 20) & (F.col("max_price") > 500))
    )


@query(
    "q26_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q26_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — the reference approximated these with UNION ALL
    stacks of per-granularity GROUP BYs (SURVEY.md §2.4 closing note); a
    native rollup computes all levels in one shuffle."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("bigint")
        .alias("grouping_level"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )


@query(
    "q27_anomaly_detection",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), neighbored AS (
      SELECT event_type, day, n,
             AVG(CAST(n AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
             ) AS neighbor_avg
      FROM daily
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_events, neighbor_avg
    FROM neighbored
    WHERE n < 0.5 * neighbor_avg
    """,
)
def q27_anomaly_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection — rows <50% of the neighbor average (A11:
    season-anomaly flagging, scripts/audit_lakehouse.py:225-246). Window is
    partitioned by event_type so no single-partition bottleneck."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-1, 1)
    return (
        daily.withColumn("neighbor_avg", F.avg(F.col("n").cast("double")).over(w))
        .filter(F.col("n") < 0.5 * F.col("neighbor_avg"))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            "neighbor_avg",
        )
    )


@query(
    "q28_conditional_mean_gap",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS avg_purchase,
           CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN event_type = 'view' THEN 1 END) AS avg_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
           - CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / SUM(CASE WHEN event_type = 'view' THEN 1 END) AS purchase_view_gap
    FROM events
    GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
       AND SUM(CASE WHEN event_type = 'view' THEN 1 END) > 0
    """,
)
def q28_conditional_mean_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference of two conditional means (A12: empirical home-court
    advantage = mean(home eff) − mean(away eff),
    build_pbp_team_daily_rollup_adj.py:80-86) in a single pass."""
    ev = load(spark, sf_dir, "events")
    vdec = F.col("value").cast(DEC)
    is_p = F.col("event_type") == "purchase"
    is_v = F.col("event_type") == "view"
    agg = ev.groupBy("user_id").agg(
        F.sum(F.when(is_p, vdec)).alias("_sp"),
        F.sum(F.when(is_p, 1)).alias("_np"),
        F.sum(F.when(is_v, vdec)).alias("_sv"),
        F.sum(F.when(is_v, 1)).alias("_nv"),
    )
    avg_p = F.col("_sp").cast("double") / F.col("_np")
    avg_v = F.col("_sv").cast("double") / F.col("_nv")
    return (
        agg.filter((F.col("_np") > 0) & (F.col("_nv") > 0))
        .select(
            "user_id",
            avg_p.alias("avg_purchase"),
            avg_v.alias("avg_view"),
            (avg_p - avg_v).alias("purchase_view_gap"),
        )
    )


@query(
    "q29_null_profile",
    oracle="""
    SELECT col_name, CAST(n_nulls AS BIGINT) AS n_nulls, CAST(n_rows AS BIGINT) AS n_rows
    FROM (
      SELECT 'o_orderkey' AS col_name, SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls, COUNT(*) AS n_rows FROM orders
      UNION ALL
      SELECT 'o_custkey', SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_totalprice', SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_orderdate', SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), COUNT(*) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END), COUNT(*) FROM orders
    )
    """,
)
def q29_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null profile (A10: scripts/audit_lakehouse.py:213-224) —
    ONE scan computing every column's null count, then unpivoted; the
    reference (and the naive port) scans once per column."""
    from hoops_edge_database_etl_spark.plans.quality import null_profile

    return null_profile(load(spark, sf_dir, "orders"))


@query(
    "q30_duplicate_stats",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_dup_keys,
      CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_excess_rows,
      CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_multiplicity
    FROM (
      SELECT l_orderkey, l_linenumber, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    )
    """,
)
def q30_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-duplicate audit (A8/D4: dup counts per primary key,
    scripts/audit_lakehouse.py:187-224, deduplicate_silver.py)."""
    li = load(spark, sf_dir, "lineitem")
    dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return dups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_keys"),
        F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("bigint").alias("n_excess_rows"),
        F.coalesce(F.max("n"), F.lit(0)).cast("bigint").alias("max_multiplicity"),
    )


@query(
    "q64_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q64_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: the same group-by as a plain hash
    aggregate, executed as operators.skew.salted_agg's two-phase plan —
    partial aggregate on (key, salt), final on key — so one hot key's
    state is spread over 16 reducers instead of one. Result is exactly
    the unsalted result (decomposable aggregates only); the oracle is the
    plain GROUP BY, proving the equivalence under the driver's hash gate.
    DECIMAL sums cast to double only at the edge (numeric-parity rule)."""
    from hoops_edge_database_etl_spark.operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", F.col("l_quantity").cast(DEC)),
            "n_rows": ("count", F.lit(1)),
            "max_price": ("max", F.col("l_extendedprice").cast(DEC)),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_price").cast("double").alias("max_price"),
    )


@query(
    "q104_skew_profile",
    oracle="""
    WITH u AS (
      SELECT 'o_orderpriority' AS col, CAST(o_orderpriority AS VARCHAR) AS key,
             COUNT(*) AS cnt
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR), COUNT(*)
      FROM orders GROUP BY 2
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    r AS (
      SELECT col, key, cnt,
             ROW_NUMBER() OVER (PARTITION BY col ORDER BY cnt DESC, key) AS hot_rank
      FROM u
    )
    SELECT col, key, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS frac,
           CAST(hot_rank AS BIGINT) AS hot_rank
    FROM r CROSS JOIN t WHERE hot_rank <= 5
    """,
)
def q104_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew profiler — the sizing input for operators/skew.py
    (n_salts ≈ hot-key rows ÷ per-task budget, README): per candidate
    shuffle-key column, the 5 hottest values with their corpus fraction.
    One map-side-combining count per column (the per-key state is one
    int — skew in the DATA never concentrates in the PROFILER), ranked
    through the associative two-phase top-k."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    o = load(spark, sf_dir, "orders")
    parts = [
        o.groupBy(F.col(c).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit(c).alias("col"), "key", "cnt")
        for c in ("o_orderpriority", "o_orderstatus")
    ]
    u = parts[0].unionByName(parts[1])
    t = o.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = top_k_per_group(
        u, ["col"], [F.col("cnt").desc(), F.col("key")], 5, rank_col="hot_rank"
    )
    return ranked.crossJoin(F.broadcast(t)).select(
        "col",
        "key",
        F.col("cnt").cast("bigint").alias("cnt"),
        (F.col("cnt").cast("double") / F.col("n").cast("double")).alias("frac"),
        F.col("hot_rank").cast("bigint").alias("hot_rank"),
    )


# --- hot-key PANDAS-KERNEL aggregation pair (VERDICT r3 item 6) -----------
#
# q64 proved salted_agg's *result* equivalence, but for built-in aggregates
# Spark's map-side partial aggregation already defuses skew, so a bench
# delta there would be noise. The case where salting genuinely matters is a
# grouped-map PANDAS kernel: applyInPandas has NO partial aggregation — all
# ~95% of rows sharing the hot key cross the shuffle into ONE task's Arrow
# batch. q115 runs the kernel per (key, salt) and SUM-merges the additive
# partials (operators/skew.py:grouped_kernel_agg); q116 is the single-task
# control. Identical results (the shared oracle is the plain GROUP BY);
# the BENCH delta between them is the operator's reason to exist.

_SKEW_KERNEL_ORACLE = """
    SELECT CAST(CASE WHEN l_orderkey % 20 = 0 THEN l_orderkey % 331 ELSE 0 END
                AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((l_orderkey * 13 + l_linenumber * 7) % 1000) AS BIGINT) AS s,
           CAST(SUM(((l_orderkey * 13 + l_linenumber * 7) % 1000)
                    * ((l_orderkey * 13 + l_linenumber * 7) % 1000))
                AS BIGINT) AS ss,
           CAST(SUM(LENGTH(concat_ws('|', l_returnflag, l_linestatus,
                                     strftime(l_shipdate, '%Y-%m-%d'))))
                AS BIGINT) AS tb
    FROM lineitem
    GROUP BY 1
"""

SKEW_KERNEL_HOT_THRESHOLD = 20_000


def _skew_kernel_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~95% of lineitem collapses to hot key 0 (the q87/q88 recipe); the
    value column is a deterministic int64 so power sums are exact, and
    ``tag`` carries a string payload so the hot group's single-task
    Arrow transfer is a REAL cost, not just a row count."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.when(F.col("l_orderkey") % 20 == 0, F.col("l_orderkey") % 331)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("k"),
        ((F.col("l_orderkey") * 13 + F.col("l_linenumber") * 7) % 1000)
        .cast("long")
        .alias("v"),
        F.concat_ws(
            "|",
            "l_returnflag",
            "l_linestatus",
            F.date_format("l_shipdate", "yyyy-MM-dd"),
        ).alias("tag"),
    )


def _moments_kernel(pdf):
    """Additive per-group state: count, first two power sums of v, total
    tag bytes — stands in for any custom numeric kernel Spark lacks a
    built-in for. numpy int64 throughout; bounds: ss <= |group| * 1e6
    << 2^63."""
    import pandas as pd

    v = pdf["v"].to_numpy()
    tl = pdf["tag"].str.len().to_numpy()
    return pd.DataFrame(
        {
            "n": [int(len(v))],
            "s": [int(v.sum())],
            "ss": [int((v * v).sum())],
            "tb": [int(tl.sum())],
        }
    )


@query("q115_skew_kernel_salted", oracle=_SKEW_KERNEL_ORACLE)
def q115_skew_kernel_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECTIVELY salted two-phase pandas-kernel aggregation over a
    95%-hot key: a count pre-pass detects keys above
    20000 rows, ONLY those spread over 32 salted
    sub-groups (cold keys keep salt 0 — salting everything multiplies
    the grouped-map per-group Arrow round-trip by n_salts and was
    measured 9× SLOWER than the control at sf0.1), then the additive
    partials merge JVM-side. See the block comment above for why THIS —
    not q64's built-in aggregates — is the shape where salting pays at
    100 TB."""
    from hoops_edge_database_etl_spark.operators.skew import grouped_kernel_agg

    df = _skew_kernel_input(spark, sf_dir)
    return grouped_kernel_agg(
        df,
        ["k"],
        _moments_kernel,
        "n long, s long, ss long, tb long",
        n_salts=32,
        hot_threshold=SKEW_KERNEL_HOT_THRESHOLD,
    )


@query("q116_skew_kernel_unsalted", oracle=_SKEW_KERNEL_ORACLE)
def q116_skew_kernel_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control for q115: the same pandas kernel grouped on the raw key —
    one task receives the hot key's entire row set in a single Arrow
    batch. Correct at any scale, slow in proportion to the skew; exists
    so BENCH records the delta."""
    from hoops_edge_database_etl_spark.operators.skew import grouped_kernel_agg

    df = _skew_kernel_input(spark, sf_dir)
    return grouped_kernel_agg(
        df, ["k"], _moments_kernel, "n long, s long, ss long, tb long"
    )


@query(
    "q120_grouped_ols",
    oracle="""
    WITH m AS (
      SELECT p.p_brand,
             COUNT(*) AS n,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))
                 * CAST(l.l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))
                 * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_rows,
           (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
             AS slope,
           (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
              - ((n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                 / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)))
                * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / n AS intercept
    FROM m
    """,
)
def q120_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (price ~ quantity per part brand) from
    exact DECIMAL power sums — the grouped-regression building block
    (feature/label drift fits, per-segment calibration) as ONE map-side
    combinable aggregation + a size-gated dim join (no broadcast hint —
    r12 audit: part scales with the corpus); no per-group iteration,
    no UDF. Slope/intercept leave the exact domain only at the edge:
    decimal sums bridge to double via string (q23 rule), then the closed
    form runs the same IEEE op DAG in both engines — bit-identical."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    j = li.join(p, li.l_partkey == p.p_partkey)
    m = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
    )

    def _d(c):
        return F.col(c).cast("string").cast("double")

    n = F.col("_n")
    sx, sy, sxx, sxy = _d("_sx"), _d("_sy"), _d("_sxx"), _d("_sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "p_brand",
        n.cast("bigint").alias("n_rows"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


# --- whole-table column profiler (q143) -----------------------------------

_PROF_NUM = [("o_orderkey", "o_orderkey"), ("o_custkey", "o_custkey"),
             ("o_totalprice", "o_totalprice")]
_PROF_STR = [("o_orderstatus", "o_orderstatus"),
             ("o_orderpriority", "o_orderpriority")]
_PROF_TS = [("o_orderdate", "o_orderdate")]


@query(
    "q143_column_profiler",
    oracle="""
    SELECT 'o_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           NULL, NULL,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    """,
)
def q143_column_profiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiler — the validation sweep the reference
    runs per ingest (cbbd_etl/validate.py: null rates, distinct counts,
    range checks) emitted as one row per column: count / nulls / exact
    NDV / typed min-max (numerics in double, strings as-is, timestamps
    through an explicit cross-engine date_format — never a raw
    double→string cast, whose shortest-repr rules differ between
    engines). Plan: ONE aggregate per column over the same scan —
    Catalyst collapses the UNION of single-row aggregates into parallel
    partial aggregates over a shared exchange-free scan pass; at 100 TB
    this is the always-on data-quality pass that amortizes into the
    ingest write. Exact NDV here (the audit contract); q72/q79 are the
    sketch substitutes when ±2% suffices."""
    o = load(spark, sf_dir, "orders")
    nul = lambda c: (F.count(F.lit(1)) - F.count(c)).cast("bigint")
    parts = []
    for name, c in _PROF_NUM:
        parts.append(
            o.agg(
                F.lit(name).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                nul(c).alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(c).cast("double").alias("min_num"),
                F.max(c).cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for name, c in _PROF_STR:
        parts.append(
            o.agg(
                F.lit(name).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                nul(c).alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.min(c).alias("min_str"),
                F.max(c).alias("max_str"),
            )
        )
    for name, c in _PROF_TS:
        parts.append(
            o.agg(
                F.lit(name).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                nul(c).alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias("min_str"),
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- Welch two-sample t statistic (q144) ----------------------------------


@query(
    "q144_welch_ttest",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'error')
    ),
    g AS (
      SELECT day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(cents * cents) AS BIGINT) AS ss
      FROM c GROUP BY day, event_type
    ),
    p AS (
      SELECT a.day, a.n AS n1, a.s AS s1, a.ss AS ss1,
             b.n AS n2, b.s AS s2, b.ss AS ss2
      FROM g a JOIN g b ON b.day = a.day
      WHERE a.event_type = 'click' AND b.event_type = 'error'
        AND a.n >= 2 AND b.n >= 2
    )
    SELECT day, n1, n2,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0
             AS mean_diff,
           ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100.0)
             / sqrt((((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / (n1 - 1)) / n1
                     + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                        / (n2 - 1)) / n2) / 10000.0) AS t_stat
    FROM p
    """,
)
def q144_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Welch two-sample t statistic between the click and error
    value streams — the A/B significance readout (reference analogue:
    backtest_spreads.py's model-vs-market error comparison) computed
    ENTIRELY from mergeable integer state: each (day, arm) carries
    (n, Σcents, Σcents²) — exact int64, map-side combining, the same
    partials q115's kernel and q134's MV maintain — and the t statistic
    is one closed-form float expression over those six integers
    (correctly-rounded sqrt; both engines evaluate the identical tree,
    so the hash check holds to the last bit). No second pass for
    variance, no per-group collection; adding CIs or pooled-variance
    Student's t is the same shape with different constants."""
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type").isin("click", "error")).select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = c.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    a = g.filter(F.col("event_type") == "click").select(
        "day",
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1"),
    )
    b = g.filter(F.col("event_type") == "error").select(
        "day",
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("ss").alias("ss2"),
    )
    p = a.join(b, "day").filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (F.col("ss1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)
    v2 = (F.col("ss2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)
    mean_diff = (m1 - m2) / F.lit(100.0)
    t = mean_diff / F.sqrt((v1 / F.col("n1") + v2 / F.col("n2")) / F.lit(10000.0))
    return p.select("day", "n1", "n2", mean_diff.alias("mean_diff"), t.alias("t_stat"))


# --- declarative data-quality expectations (q151) -------------------------

#: (rule_id, column, kind, lo, hi) — kinds: not_null (null share ≤ hi),
#: range (min ≥ lo AND max ≤ hi), distinct_min (NDV ≥ lo). The rule table
#: is DATA, not code: production loads it from config; adding a rule adds
#: a row, never a plan.
EXPECTATIONS = [
    (1, "o_totalprice", "range", 0, 1_000_000),
    (2, "o_totalprice", "not_null", 0, 0),
    (3, "o_custkey", "distinct_min", 100, 0),
    (4, "o_orderstatus", "distinct_min", 2, 0),
    (5, "o_orderkey", "not_null", 0, 0),
]


@query(
    "q151_expectations",
    oracle=f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS nulls_price,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS nulls_key,
             MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_cust,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status
      FROM orders
    )
    SELECT r.rule_id, r.column_name, r.kind,
           CASE r.rule_id
             WHEN 1 THEN CASE WHEN m.min_price >= 0
                               AND m.max_price <= 1000000 THEN 1 ELSE 0 END
             WHEN 2 THEN CASE WHEN m.nulls_price = 0 THEN 1 ELSE 0 END
             WHEN 3 THEN CASE WHEN m.ndv_cust >= 100 THEN 1 ELSE 0 END
             WHEN 4 THEN CASE WHEN m.ndv_status >= 2 THEN 1 ELSE 0 END
             WHEN 5 THEN CASE WHEN m.nulls_key = 0 THEN 1 ELSE 0 END
           END = 1 AS passed,
           CASE r.rule_id
             WHEN 1 THEN m.max_price
             WHEN 2 THEN CAST(m.nulls_price AS DOUBLE)
             WHEN 3 THEN CAST(m.ndv_cust AS DOUBLE)
             WHEN 4 THEN CAST(m.ndv_status AS DOUBLE)
             WHEN 5 THEN CAST(m.nulls_key AS DOUBLE)
           END AS observed
    FROM (SELECT * FROM (VALUES
        (1, 'o_totalprice', 'range'),
        (2, 'o_totalprice', 'not_null'),
        (3, 'o_custkey', 'distinct_min'),
        (4, 'o_orderstatus', 'distinct_min'),
        (5, 'o_orderkey', 'not_null')
      ) AS v(rule_id, column_name, kind)) r
    CROSS JOIN m
    """,
)
def q151_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality EXPECTATIONS (the Deequ/Great-Expectations
    shape; reference analogue cbbd_etl/validate.py's hand-coded check
    list): the rule set is a DATA table — (rule, column, kind, bounds)
    rows, loaded here from a constant, in production from config — and
    ALL metrics the rules need (null counts, min/max, exact NDV) come
    from ONE aggregate pass over the table; verdicts are a broadcast
    join of rules onto the single metrics row. Adding a rule adds a
    row, not a plan — the audit cost at 100 TB stays one scan
    regardless of rule count. Emits (rule, passed, observed) — the
    shape a quality gate alerts on; q143 is the open-ended profiling
    sibling, this is the contract-enforcement one."""
    o = load(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).cast("bigint").alias("nulls_price"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).cast("bigint").alias("nulls_key"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_custkey").cast("bigint").alias("ndv_cust"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("ndv_status"),
    )
    rules = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in EXPECTATIONS],
        "rule_id int, column_name string, kind string",
    )
    passed = (
        F.when(F.col("rule_id") == 1, (F.col("min_price") >= 0) & (F.col("max_price") <= 1_000_000))
        .when(F.col("rule_id") == 2, F.col("nulls_price") == 0)
        .when(F.col("rule_id") == 3, F.col("ndv_cust") >= 100)
        .when(F.col("rule_id") == 4, F.col("ndv_status") >= 2)
        .when(F.col("rule_id") == 5, F.col("nulls_key") == 0)
    )
    observed = (
        F.when(F.col("rule_id") == 1, F.col("max_price"))
        .when(F.col("rule_id") == 2, F.col("nulls_price").cast("double"))
        .when(F.col("rule_id") == 3, F.col("ndv_cust").cast("double"))
        .when(F.col("rule_id") == 4, F.col("ndv_status").cast("double"))
        .when(F.col("rule_id") == 5, F.col("nulls_key").cast("double"))
    )
    return rules.crossJoin(F.broadcast(m)).select(
        "rule_id", "column_name", "kind", passed.alias("passed"), observed.alias("observed")
    )


# --- model scoring with closed-form residuals (q152) ----------------------


@query(
    "q152_ols_scoring",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM c GROUP BY l_returnflag
    ),
    fit AS (
      SELECT l_returnflag, n, sx, sy, sxx, sxy, syy,
             (n * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS b
      FROM m
    ),
    fit2 AS (
      SELECT *, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a FROM fit
    ),
    scored AS (
      SELECT c.l_returnflag,
             abs(CAST(c.y AS DOUBLE) - (f.a + f.b * CAST(c.x AS DOUBLE))) AS ar
      FROM c JOIN fit2 f ON f.l_returnflag = c.l_returnflag
    )
    SELECT f.l_returnflag AS l_returnflag, f.n AS n_rows, f.b AS slope,
           f.a AS intercept_cents,
           sqrt(greatest(0.0,
                (f.syy - 2 * f.a * CAST(f.sy AS DOUBLE)
                 - 2 * f.b * f.sxy + f.n * f.a * f.a
                 + 2 * f.a * f.b * CAST(f.sx AS DOUBLE)
                 + f.b * f.b * f.sxx) / f.n)) AS rmse_cents,
           MAX(s.ar) AS max_abs_residual_cents
    FROM fit2 f JOIN scored s ON s.l_returnflag = f.l_returnflag
    GROUP BY f.l_returnflag, f.n, f.b, f.a, f.sx, f.sy, f.sxx, f.sxy, f.syy
    """,
)
def q152_ols_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train→score loop closed in one plan: fit y≈a+bx per group
    (q120's closed form, here over exact int64 cent sums — no decimal
    bridge needed), broadcast the coefficients back onto the rows, and
    report model diagnostics WITHOUT summing per-row floats: RMSE comes
    from the algebraic identity Σr² = Σy²−2aΣy−2bΣxy+na²+2abΣx+b²Σxx
    over the SAME exact sums the fit used (a float Σr² across
    partitions would be order-dependent and break the hash — the one
    per-row float, |residual|, feeds only MAX, which is
    order-independent). At 100 TB: one aggregation pass to fit, one
    broadcast-join map pass to score — the batch-inference shape for
    any linear model, and the residual identity generalizes to every
    metric expressible in power sums (R², calibration slope)."""
    li = load(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    m = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        # second moments overflow int64 near 1e9 rows (y² ≈ 1e14/cent-row):
        # DECIMAL(38,0) sums stay exact and mergeable at any scale, and
        # bridge to double through a string (the q23 rule)
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("string").cast("double").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("string").cast("double").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("string").cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    fit = m.withColumn("b", (n * sxy - sx * sy) / (n * sxx - sx * sx))
    fit2 = fit.withColumn("a", (sy - F.col("b") * sx) / n)
    scored = c.join(F.broadcast(fit2.select("l_returnflag", "a", "b")), "l_returnflag").select(
        "l_returnflag",
        F.abs(
            F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("x").cast("double"))
        ).alias("ar"),
    )
    rmse = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (
                syy
                - 2 * F.col("a") * sy
                - 2 * F.col("b") * sxy
                + n * F.col("a") * F.col("a")
                + 2 * F.col("a") * F.col("b") * sx
                + F.col("b") * F.col("b") * sxx
            )
            / n,
        )
    )
    mx = scored.groupBy("l_returnflag").agg(F.max("ar").alias("max_abs_residual_cents"))
    return fit2.join(mx, "l_returnflag").select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.col("b").alias("slope"),
        F.col("a").alias("intercept_cents"),
        rmse.alias("rmse_cents"),
        "max_abs_residual_cents",
    )


# --- contingency chi-square with deterministic fold (q158) ----------------


@query(
    "q158_chi_square",
    oracle="""
    WITH base AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 AS dow
      FROM events
    ),
    o AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS obs
          FROM base GROUP BY event_type, dow),
    r AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rn FROM base GROUP BY event_type),
    c AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS cn FROM base GROUP BY dow),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    -- full margin grid: empty cells contribute RC/N (round-8 densify fix)
    cells AS (
      SELECT r.event_type, c.dow, COALESCE(o.obs, 0) AS obs,
             CAST(r.rn AS DOUBLE) * c.cn / t.n AS expected,
             -- 128-bit exact numerator (the q402 class: obs*n is ~n^2,
             -- its square ~n^4), one cast to double at the division
             CAST((CAST(COALESCE(o.obs, 0) AS HUGEINT) * t.n
                     - CAST(r.rn AS HUGEINT) * c.cn)
                  * (CAST(COALESCE(o.obs, 0) AS HUGEINT) * t.n
                     - CAST(r.rn AS HUGEINT) * c.cn)
                  AS DOUBLE) / (CAST(t.n AS DOUBLE) * r.rn * c.cn) AS contrib
      FROM r CROSS JOIN c
      LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow
      CROSS JOIN t
    ),
    tot AS (
      SELECT list_reduce(list(contrib ORDER BY event_type, dow),
                         (a, b) -> a + b) AS chi2
      FROM cells
    )
    SELECT cells.event_type, CAST(cells.dow AS BIGINT) AS dow, cells.obs,
           cells.expected, cells.contrib, tot.chi2
    FROM cells CROSS JOIN tot
    """,
)
def q158_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence analysis of the event_type × day-of-week
    contingency table — per-cell observed/expected/contribution plus
    the table statistic. Two numeric-determinism techniques on display:
    (1) each cell's contribution is computed as the INTEGER identity
    (oN − RC)²/(NRC) — one exact int64 numerator, one float division —
    rather than the float (o−e)²/e chain; (2) the chi² TOTAL is a
    float sum over 35 cells whose result depends on summation order,
    so both engines fold the cells in the SAME explicit (type, dow)
    order — Spark's aggregate() over a sort_array'd collect, DuckDB's
    list_reduce over an ORDER BY list — making an order-sensitive
    float reduction hash-checkable (the technique q130's dyadic EWMA
    avoided needing). Day-of-week is (epoch_days+4) mod 7 — Spark and
    DuckDB disagree on dayofweek() numbering, integer arithmetic
    doesn't. The cell table is ONE map-side-combining groupBy over one
    scan; margins and the total are sums of the checkpointed cells."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            (F.floor(F.col("ts").cast("double")).cast("long") / 86400).cast("long")
            .alias("_d")
        ),
    ).select(
        "event_type", ((F.col("_d") + 4) % 7).alias("dow")
    )
    o = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    # the margins and the total are SUMS OF THE CELL TABLE — derive all
    # three from the checkpointed 35-row table instead of three more
    # fact scans (r11 fact-rescan audit: 8 scans -> 1; the docstring's
    # "one scan" now holds in the executed plan)
    o = o.localCheckpoint(eager=False)
    r = o.groupBy("event_type").agg(F.sum("obs").cast("bigint").alias("rn"))
    c = o.groupBy("dow").agg(F.sum("obs").cast("bigint").alias("cn"))
    t = o.agg(F.sum("obs").cast("bigint").alias("n"))
    # obs*n and rn*cn are ~n^2 (the q402 class, past int64 at ~3e9
    # events) and num*num is ~n^4 — with a real day-of-week effect the
    # long square throws around sf1-scale event counts. The identity
    # stays EXACT integer: DECIMAL(38,0) difference and square (128-bit
    # HUGEINT in the oracle), one cast to double at the division
    num = (
        F.col("obs").cast("decimal(38,0)") * F.col("n")
        - F.col("rn").cast("decimal(38,0)") * F.col("cn")
    )
    # Densify to the FULL margin grid before computing contributions
    # (round 8, the q215-EMD lesson class): an EMPTY cell still
    # contributes (0·N − RC)²/(NRC) = RC/N to chi², and walking only
    # observed (type, dow) combinations silently drops it — a
    # shared-formula blind spot both engines had (calibration test:
    # 2x2 disjoint table scored N/2 instead of N), invisible on the
    # real fixture where every cell is occupied.
    cells = (
        F.broadcast(r)
        .crossJoin(F.broadcast(c))
        .join(o, ["event_type", "dow"], "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "obs",
            (F.col("rn").cast("double") * F.col("cn") / F.col("n")).alias("expected"),
            (
                (num * num).cast("double")
                / (F.col("n").cast("double") * F.col("rn") * F.col("cn"))
            ).alias("contrib"),
        )
    )
    tot = cells.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("event_type", "dow", "contrib"))
            ),
            F.lit(0.0),
            lambda acc, st: acc + st["contrib"],
        ).alias("chi2")
    )
    return cells.crossJoin(F.broadcast(tot))


# --- Gini impurity / diversity (q161) -------------------------------------


@query(
    "q161_gini_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot,
                 CAST(SUM(n * n) AS BIGINT) AS ss,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM c GROUP BY user_id)
    SELECT user_id, k AS n_types, tot AS n_events,
           1.0 - CAST(ss AS DOUBLE) / (CAST(tot AS DOUBLE) * tot) AS gini
    FROM t
    """,
)
def q161_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user as GINI IMPURITY of their
    event-type mix: 1 − Σpᵢ² = 1 − Σnᵢ²/N² — deliberately the
    log-free diversity measure (Shannon entropy needs ln, which is NOT
    correctly rounded and differs between Java's StrictMath and C's
    libm — a cross-engine hash would hang on the last ulp; Gini is one
    exact integer sum of squares and a single float division, and
    ranks mixes almost identically). Two map-side-combining groupBys,
    both on user_id. The segmentation feature (exploratory vs
    single-purpose users) the reference's per-provider mode (q22)
    summarizes away."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return t.select(
        "user_id",
        F.col("k").alias("n_types"),
        F.col("tot").alias("n_events"),
        (
            F.lit(1.0)
            - F.col("ss").cast("double") / (F.col("tot").cast("double") * F.col("tot"))
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Distribution drift (q168): total-variation distance between two periods'
# categorical distributions — the ln-free drift monitor (PSI needs ln, which
# is not correctly-rounded across engines; TVD is an exact rational).
# ---------------------------------------------------------------------------


@query(
    "q168_tvd_drift",
    oracle="""
    WITH lng AS (
      SELECT 'o_orderpriority' AS col_name, o_orderpriority AS cat,
             CAST(o_orderdate < TIMESTAMP '1998-01-01' AS INTEGER) AS before
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus,
             CAST(o_orderdate < TIMESTAMP '1998-01-01' AS INTEGER)
      FROM orders
    ),
    c AS (
      SELECT col_name, cat,
             CAST(SUM(before) AS BIGINT) AS c1,
             CAST(SUM(1 - before) AS BIGINT) AS c2
      FROM lng GROUP BY 1, 2
    ),
    t AS (
      SELECT col_name, CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n_categories,
             CAST(SUM(abs(c1 * (SELECT SUM(x.c2) FROM c x WHERE x.col_name = c.col_name)
                          - c2 * (SELECT SUM(x.c1) FROM c x WHERE x.col_name = c.col_name)))
                  AS BIGINT) AS num
      FROM c GROUP BY col_name
    )
    SELECT col_name, n1 AS n_before, n2 AS n_after, n_categories,
           CAST(num AS DOUBLE) / (2.0 * n1 * n2) AS tvd
    FROM t
    """,
)
def q168_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column categorical drift between two time slices as
    total-variation distance: TVD = ½·Σ|p₁(v) − p₂(v)|, computed as the
    exact integer Σ|c₁·N₂ − c₂·N₁| over the common denominator N₁·N₂ —
    no per-category float division, no ln (the reason this is TVD and
    not PSI: ln is not correctly rounded and would break the cross-engine
    hash; TVD and PSI order drift the same way in practice). The
    monitoring gate a training pipeline runs between ingest batches.

    Shape at scale: one scan builds the long (column, category, period)
    counts with map-side combine — drift over K columns is K CASE arms
    in one pass, not K scans (the q143 profiler rule); the |…| sum then
    reduces the BOUNDED category table. Adding a column = one more
    unpivot arm."""
    o = load(spark, sf_dir, "orders")
    before = (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).cast("int")
    lng = (
        o.select(F.lit("o_orderpriority").alias("col_name"),
                 F.col("o_orderpriority").alias("cat"), before.alias("before"))
        .unionAll(
            o.select(F.lit("o_orderstatus").alias("col_name"),
                     F.col("o_orderstatus").alias("cat"), before.alias("before"))
        )
    )
    c = lng.groupBy("col_name", "cat").agg(
        F.sum("before").cast("bigint").alias("c1"),
        F.sum(1 - F.col("before")).cast("bigint").alias("c2"),
    )
    # bounded (column, category) table read by the margin totals AND
    # the |...| numerator — checkpoint so the two unpivot scan arms run
    # once (r11 fact-rescan audit: 6 scans -> 2)
    c = c.localCheckpoint(eager=False)
    t = c.groupBy("col_name").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    num = (
        c.join(F.broadcast(t), "col_name")
        .groupBy("col_name")
        .agg(F.sum(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
             .cast("bigint").alias("num"))
    )
    return (
        t.join(num, "col_name")
        .select(
            "col_name",
            F.col("n1").alias("n_before"),
            F.col("n2").alias("n_after"),
            "n_categories",
            (F.col("num").cast("double") / (F.lit(2.0) * F.col("n1") * F.col("n2")))
            .alias("tvd"),
        )
    )


# ---------------------------------------------------------------------------
# Model-eval lift table (q171): decile gains curve over q152's scoring
# shape — the offline readout that decides whether a ranking model ships.
# ---------------------------------------------------------------------------


@query(
    "q171_decile_lift",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS score,
             CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT pos, NTILE(10) OVER (ORDER BY score DESC, o_custkey) AS decile FROM u
    ),
    g AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_custs,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM d GROUP BY decile
    ),
    w AS (
      SELECT decile, n_custs, n_pos,
             SUM(n_custs) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
             SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos,
             SUM(n_custs) OVER () AS tot_n, SUM(n_pos) OVER () AS tot_pos
      FROM g
    )
    SELECT decile, n_custs, n_pos,
           CAST(n_pos AS DOUBLE) / n_custs AS rate,
           CAST(cum_pos * tot_n AS DOUBLE) / (cum_n * tot_pos) AS cum_lift
    FROM w
    """,
)
def q171_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table: rank customers by model score (here: exact
    total spend in cents, the q152 scoring stand-in), cut into NTILE(10)
    deciles with a (score DESC, custkey) total order, and report per-decile
    positive rate plus cumulative lift — computed as the exact integer
    cross-ratio (cum_pos·N)/(cum_n·P) with ONE float division at the end.

    Scale: per-customer reduction is map-side; the decile cut runs as
    operators.rowids.distributed_ntile (r10, global-window audit) — the
    rank-block form this query's allowlist entry used to only NAME:
    range partition + per-range numbering + a broadcast prefix-offset
    spine, no SinglePartition exchange over customers anywhere. The lift
    walk is over the 10-row decile table. Output is bounded (10 rows)
    regardless of SF."""
    from hoops_edge_database_etl_spark.operators.rowids import distributed_ntile

    o = load(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint").alias("score"),
        F.max(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint").alias("pos"),
    )
    d = distributed_ntile(
        u, 10, [F.col("score").desc(), "o_custkey"], tile_col="decile"
    ).select("pos", "decile")
    g = d.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "decile", "n_custs", "n_pos",
        (F.col("n_pos").cast("double") / F.col("n_custs")).alias("rate"),
        (
            (F.sum("n_pos").over(wc) * F.sum("n_custs").over(wt)).cast("double")
            / (F.sum("n_custs").over(wc) * F.sum("n_pos").over(wt))
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation (q178): does yesterday predict today? The
# stationarity probe run before any forecasting model; q23's Pearson
# machinery applied to a self-lagged series.
# ---------------------------------------------------------------------------


@query(
    "q178_autocorrelation",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem GROUP BY 1, 2
    ),
    p AS (
      SELECT l_returnflag,
             LAG(cents) OVER (PARTITION BY l_returnflag ORDER BY day) AS x,
             cents AS y
      FROM d
    ),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM p WHERE x IS NOT NULL GROUP BY l_returnflag
    )
    SELECT l_returnflag, n AS n_pairs,
           (n * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf1
    FROM m
    """,
)
def q178_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each return-flag's daily shipped revenue:
    the heavy fact table reduces map-side to one exact-cents row per
    (flag, day); LAG pairs consecutive days inside the BOUNDED per-flag
    daily series (the q167 contract — never a per-row window); the
    Pearson correlation of (yesterday, today) comes from mergeable
    integer/DECIMAL power sums with ONE closed-form float expression
    (q152's residual rule — no order-dependent float sums anywhere).

    acf1 near 0 = daily revenue is white noise around its mean; near 1 =
    momentum (forecastable); negative = oscillation. Extending to lag-k
    or a full ACF sweep reuses the same daily reduction with k LAG
    columns in one window pass."""
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(
        "l_returnflag", F.to_date("l_shipdate").alias("day")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("day")
    p = d.select(
        "l_returnflag",
        F.lag("cents").over(w).alias("x"),
        F.col("cents").alias("y"),
    ).filter(F.col("x").isNotNull())
    m = p.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("string").cast("double").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("string").cast("double").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("string").cast("double").alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    return m.select(
        "l_returnflag",
        n.alias("n_pairs"),
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("acf1"),
    )


# ---------------------------------------------------------------------------
# Confusion matrix + exact-rational classifier metrics (q189): the eval
# readout that closes the train (q120/q152) → score → THRESHOLD → judge
# loop.
# ---------------------------------------------------------------------------


@query(
    "q189_confusion_matrix",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS pred,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    m AS (
      SELECT CAST(SUM(pred * label) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - label)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * label) AS BIGINT) AS fn,
             CAST(SUM((1 - pred) * (1 - label)) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
           CAST(tp AS DOUBLE) / (tp + fn) AS recall_,
           CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) AS f1,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy
    FROM m
    """,
)
def q189_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation in ONE aggregation pass: the four
    confusion cells as integer indicator sums (tp = Σ pred·label etc. —
    map-side combining, no groupBy-pivot), then precision / recall / F1 /
    accuracy as exact cross-multiplied rationals with one division each
    (F1 stated as 2tp/(2tp+fp+fn) — algebraically the harmonic mean
    without the intermediate ratios that would float-compound). The
    thresholded price stands in for q152's fitted score; swapping in any
    model column is a one-line change.

    At 100 TB the entire evaluation is one scan and a 4-integer
    reduction — the shape that lets you re-grade a model on the full
    corpus after every threshold move instead of a sample."""
    o = load(spark, sf_dir, "orders")
    pred = F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0)
    label = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    m = o.agg(
        F.sum(pred * label).cast("bigint").alias("tp"),
        F.sum(pred * (1 - label)).cast("bigint").alias("fp"),
        F.sum((1 - pred) * label).cast("bigint").alias("fn"),
        F.sum((1 - pred) * (1 - label)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return m.select(
        "tp", "fp", "fn", "tn",
        (tp.cast("double") / (tp + fp)).alias("precision_"),
        (tp.cast("double") / (tp + fn)).alias("recall_"),
        ((2 * tp).cast("double") / (2 * tp + fp + fn)).alias("f1"),
        ((tp + tn).cast("double") / (tp + fp + fn + tn)).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# One-pass correlation matrix (q193): every pairwise Pearson r between k
# metric columns from a SINGLE scan — k(k+1)/2 product sums as conditional
# accumulators, never k² scans (the q143 profiler rule applied to second
# moments).
# ---------------------------------------------------------------------------

CORR_COLS = ("qty", "price", "disc", "tax")


def _corr_pairs():
    cols = list(CORR_COLS)
    return [(cols[i], cols[j]) for i in range(len(cols)) for j in range(i + 1, len(cols))]


@query(
    "q193_correlation_matrix",
    oracle="""
    WITH c AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qty) AS BIGINT) AS s_qty, CAST(SUM(price) AS BIGINT) AS s_price,
             CAST(SUM(disc) AS BIGINT) AS s_disc, CAST(SUM(tax) AS BIGINT) AS s_tax,
             CAST(CAST(SUM(CAST(qty AS DECIMAL(38,0)) * qty) AS VARCHAR) AS DOUBLE) AS ss_qty,
             CAST(CAST(SUM(CAST(price AS DECIMAL(38,0)) * price) AS VARCHAR) AS DOUBLE) AS ss_price,
             CAST(CAST(SUM(CAST(disc AS DECIMAL(38,0)) * disc) AS VARCHAR) AS DOUBLE) AS ss_disc,
             CAST(CAST(SUM(CAST(tax AS DECIMAL(38,0)) * tax) AS VARCHAR) AS DOUBLE) AS ss_tax,
             CAST(CAST(SUM(CAST(qty AS DECIMAL(38,0)) * price) AS VARCHAR) AS DOUBLE) AS p_qty_price,
             CAST(CAST(SUM(CAST(qty AS DECIMAL(38,0)) * disc) AS VARCHAR) AS DOUBLE) AS p_qty_disc,
             CAST(CAST(SUM(CAST(qty AS DECIMAL(38,0)) * tax) AS VARCHAR) AS DOUBLE) AS p_qty_tax,
             CAST(CAST(SUM(CAST(price AS DECIMAL(38,0)) * disc) AS VARCHAR) AS DOUBLE) AS p_price_disc,
             CAST(CAST(SUM(CAST(price AS DECIMAL(38,0)) * tax) AS VARCHAR) AS DOUBLE) AS p_price_tax,
             CAST(CAST(SUM(CAST(disc AS DECIMAL(38,0)) * tax) AS VARCHAR) AS DOUBLE) AS p_disc_tax
      FROM c
    )
    SELECT col_a, col_b,
           (n * pxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((n * ssx - CAST(sx AS DOUBLE) * sx) * (n * ssy - CAST(sy AS DOUBLE) * sy))
             AS r
    FROM (
      SELECT 'qty' AS col_a, 'price' AS col_b, n, s_qty AS sx, s_price AS sy,
             ss_qty AS ssx, ss_price AS ssy, p_qty_price AS pxy FROM m
      UNION ALL SELECT 'qty', 'disc', n, s_qty, s_disc, ss_qty, ss_disc, p_qty_disc FROM m
      UNION ALL SELECT 'qty', 'tax', n, s_qty, s_tax, ss_qty, ss_tax, p_qty_tax FROM m
      UNION ALL SELECT 'price', 'disc', n, s_price, s_disc, ss_price, ss_disc, p_price_disc FROM m
      UNION ALL SELECT 'price', 'tax', n, s_price, s_tax, ss_price, ss_tax, p_price_tax FROM m
      UNION ALL SELECT 'disc', 'tax', n, s_disc, s_tax, ss_disc, ss_tax, p_disc_tax FROM m
    )
    """,
)
def q193_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pairwise Pearson matrix over four exact-cents metrics in
    ONE aggregation: 4 sums + 4 square sums + 6 cross-product sums as
    DECIMAL(38,0) accumulators in a single scan (adding a metric adds
    k accumulators, never a scan), then each of the 6 correlations is
    one closed-form float expression over those 14 exact numbers —
    the q23 single-pair machinery vectorized the way a feature-selection
    or collinearity audit actually needs it. The unpivot to (col_a,
    col_b, r) rows happens AFTER the reduction, on 1 row."""
    li = load(spark, sf_dir, "lineitem")
    cents = {
        "qty": "l_quantity",
        "price": "l_extendedprice",
        "disc": "l_discount",
        "tax": "l_tax",
    }
    c = li.select(
        *[
            F.floor(F.col(src) * 100 + F.lit(0.5)).cast("long").alias(dst)
            for dst, src in cents.items()
        ]
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for k in CORR_COLS:
        aggs.append(F.sum(k).cast("bigint").alias(f"s_{k}"))
        aggs.append(
            F.sum(F.col(k).cast("decimal(38,0)") * F.col(k))
            .cast("string").cast("double").alias(f"ss_{k}")
        )
    for x, y in _corr_pairs():
        aggs.append(
            F.sum(F.col(x).cast("decimal(38,0)") * F.col(y))
            .cast("string").cast("double").alias(f"p_{x}_{y}")
        )
    m = c.agg(*aggs)
    arms = []
    for x, y in _corr_pairs():
        arms.extend(
            [
                f"'{x}', '{y}'",
                f"(n * p_{x}_{y} - CAST(s_{x} AS DOUBLE) * s_{y}) / "
                f"sqrt((n * ss_{x} - CAST(s_{x} AS DOUBLE) * s_{x})"
                f" * (n * ss_{y} - CAST(s_{y} AS DOUBLE) * s_{y}))",
            ]
        )
    stacked = ", ".join(arms)
    return m.select(
        F.expr(f"stack({len(_corr_pairs())}, {stacked}) AS (col_a, col_b, r)")
    )


# ---------------------------------------------------------------------------
# Row-level quality router (q203): q151 grades the TABLE; this routes each
# ROW — pass rows continue, violators carry their failed-rule tags to the
# dead-letter side (S12's sink is where the quarantine stream lands).
# ---------------------------------------------------------------------------


@query(
    "q203_quality_router",
    oracle="""
    WITH raw AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 937 = 0 THEN NULL ELSE o_totalprice END AS price,
             CASE WHEN o_orderkey % 941 = 0 THEN 'Z' ELSE o_orderstatus END AS status,
             o_orderdate
      FROM orders
    ),
    tagged AS (
      SELECT *,
             CASE WHEN price IS NULL THEN 1 ELSE 0 END AS v_null_price,
             CASE WHEN price IS NOT NULL AND (price <= 0 OR price > 1000000)
                  THEN 1 ELSE 0 END AS v_price_range,
             CASE WHEN status NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END AS v_status,
             CASE WHEN o_orderdate < TIMESTAMP '1990-01-01' THEN 1 ELSE 0 END AS v_date
      FROM raw
    )
    SELECT CAST(SUM(CASE WHEN v_null_price + v_price_range + v_status + v_date = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN v_null_price + v_price_range + v_status + v_date > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
           CAST(SUM(v_null_price) AS BIGINT) AS v_null_price,
           CAST(SUM(v_price_range) AS BIGINT) AS v_price_range,
           CAST(SUM(v_status) AS BIGINT) AS v_status,
           CAST(SUM(v_date) AS BIGINT) AS v_date,
           CAST(SUM(CASE WHEN v_null_price + v_price_range + v_status + v_date = 0
                         THEN CAST(floor(price * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS clean_cents
    FROM tagged
    """,
)
def q203_quality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectations ROUTER: every row is tagged with the rules
    it violates (null price, out-of-range price, unknown status, date
    floor — the checks a Delta constraint or dq framework would declare)
    in ONE projection, then a single aggregate reads off the routing
    audit: clean rows + per-rule violation counts + the revenue that
    PASSED (what actually loads downstream). Violations are injected
    in-plan (every 937th price nulled, every 941st status corrupted) so
    the router demonstrably fires; production swaps the injected columns
    for the raw ones and writes the quarantine side through the S12
    dead-letter sink with the same tags.

    One scan, conditional accumulators, zero shuffles before the 1-row
    audit — adding a rule is one column, never a pass (q143/q191's
    rule)."""
    o = load(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 937 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(F.col("o_orderkey") % 941 == 0, "Z")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        "o_orderdate",
    )
    v_null = F.when(F.col("price").isNull(), 1).otherwise(0)
    v_range = F.when(
        F.col("price").isNotNull()
        & ((F.col("price") <= 0) | (F.col("price") > 1_000_000)),
        1,
    ).otherwise(0)
    v_status = F.when(~F.col("status").isin("O", "F", "P"), 1).otherwise(0)
    v_date = F.when(
        F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"), 1
    ).otherwise(0)
    total_v = v_null + v_range + v_status + v_date
    return raw.agg(
        F.sum(F.when(total_v == 0, 1).otherwise(0)).cast("bigint").alias("n_pass"),
        F.sum(F.when(total_v > 0, 1).otherwise(0)).cast("bigint").alias("n_quarantined"),
        F.sum(v_null).cast("bigint").alias("v_null_price"),
        F.sum(v_range).cast("bigint").alias("v_price_range"),
        F.sum(v_status).cast("bigint").alias("v_status"),
        F.sum(v_date).cast("bigint").alias("v_date"),
        F.sum(
            F.when(
                total_v == 0,
                F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("clean_cents"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration / Lorenz points (q209): "what share of revenue
# comes from the top X% of customers" — the continuous-value concentration
# curve (q161's Gini is its categorical cousin).
# ---------------------------------------------------------------------------


@query(
    "q209_lorenz_concentration",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT cents, NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile FROM u
    ),
    g AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_custs,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM d GROUP BY decile
    )
    SELECT decile, n_custs, cents,
           CAST(SUM(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / SUM(cents) OVER () AS cum_revenue_share,
           CAST(SUM(n_custs) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                AS DOUBLE) / SUM(n_custs) OVER () AS cum_customer_share
    FROM g
    """,
)
def q209_lorenz_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration points: customers ranked by exact spend into
    NTILE(10) deciles (total tiebreak — the q171 machinery pointed at
    concentration instead of model lift), then each decile's cumulative
    revenue share against its cumulative customer share — the "top 10%
    of customers carry Y% of revenue" readout, with both shares as one
    division over exact integer cumsums of the 10-row decile table. The
    gap between the two cumulative columns IS the Lorenz curve's bow;
    feeding the 10 points into the trapezoid rule gives the continuous
    Gini if a scalar is wanted. The decile cut is
    operators.rowids.distributed_ntile (r10, global-window audit): no
    SinglePartition exchange over customers — only the 10-row decile
    walk stays a bounded global window."""
    from hoops_edge_database_etl_spark.operators.rowids import distributed_ntile

    o = load(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("cents")
    )
    d = distributed_ntile(
        u, 10, [F.col("cents").desc(), "o_custkey"], tile_col="decile"
    ).select("cents", "decile")
    g = d.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "decile", "n_custs", "cents",
        (F.sum("cents").over(wc).cast("double") / F.sum("cents").over(wt))
        .alias("cum_revenue_share"),
        (F.sum("n_custs").over(wc).cast("double") / F.sum("n_custs").over(wt))
        .alias("cum_customer_share"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (q214): fabricated numbers rarely follow
# Benford's law; real multiplicative quantities do. The forensic screen
# auditors run over financial columns.
# ---------------------------------------------------------------------------

#: Benford P(d) = log10(1 + 1/d) in parts-per-million — precomputed integer
#: literals so NO log evaluates in either engine (the ln rule).
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)

_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN {i + 1} THEN {ppm}" for i, ppm in enumerate(BENFORD_PPM)
) + " END"


@query(
    "q214_benford_digits",
    oracle=f"""
    WITH x AS (
      -- the screened unit is the exact CENTS integer; rows whose total
      -- rounds below one cent (cents = 0 has no first significant
      -- digit) are excluded from rows AND denominator BY CONTRACT
      -- (round-9 ADVICE: the old o_totalprice > 0 let a sub-cent row
      -- produce d=0, silently dropped by the 1-9 spine join)
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
            FROM orders) WHERE c >= 1
    ),
    c0 AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY d
    ),
    -- densify to the 1-9 digit spine (round 8): a digit that NEVER
    -- appears is the loudest Benford violation, not a missing row
    c AS (
      SELECT g.d, COALESCE(c0.n, 0) AS n
      FROM (SELECT UNNEST(range(1, 10)) AS d) g
      LEFT JOIN c0 ON c0.d = g.d
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.d AS digit, CAST(c.n AS BIGINT) AS n,
           CAST({_BENFORD_CASE} AS BIGINT) AS expected_ppm,
           CAST(c.n * 1000000 AS BIGINT) // t.total AS observed_ppm,
           abs(CAST(c.n * 1000000 AS BIGINT) // t.total - {_BENFORD_CASE})
             AS deviation_ppm
    FROM c, t
    """,
)
def q214_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over order totals: leading-digit frequencies
    (extracted from the exact cents integer's decimal string — no float
    log10/pow anywhere) against the Benford expectation, which enters as
    PRECOMPUTED parts-per-million integer literals (the ln rule: both
    engines see the same constants, never evaluate a transcendental).
    Observed shares are integer-divided ppm, so every output cell is an
    exact integer and the per-digit deviation is the audit flag.
    Contract: the screened unit is the cents integer, and totals that
    round below one cent (cents = 0 — no first significant digit) are
    excluded from both rows and denominator, in both engines.

    One scan + a 9-row reduction; columns to screen are CASE arms in the
    same pass (q193's rule). A uniform synthetic price distribution
    FAILS Benford loudly — which is itself the point: the test detects
    distributional fingerprints, and the hash check certifies the
    machinery, not the data's innocence."""
    o = load(spark, sf_dir, "orders")
    # the screened unit is the exact cents integer; cents = 0 (a total
    # that rounds below one cent) has no first significant digit and is
    # excluded from rows AND denominator by contract — stated here
    # because the 1-9 spine would otherwise drop a d=0 group silently
    # (round-9 ADVICE)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    x = o.select(cents.alias("c")).filter(F.col("c") >= 1).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("d")
    )
    c0 = x.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # densify to the 1-9 digit spine (round 8, the q158/q215 lesson
    # class): a digit that never appears is the LOUDEST violation
    # (deviation == its full expected ppm), not a missing row
    spine = spark.range(1, 10).select(F.col("id").alias("d"))
    c = spine.join(c0, "d", "left").select(
        "d", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    expected = F.element_at(
        F.array(*[F.lit(p).cast("bigint") for p in BENFORD_PPM]), F.col("d").cast("int")
    )
    obs_int = F.expr("CAST(n * 1000000 AS BIGINT) div total")
    return c.crossJoin(F.broadcast(t)).select(
        F.col("d").alias("digit"),
        "n",
        expected.alias("expected_ppm"),
        obs_int.alias("observed_ppm"),
        F.abs(obs_int - expected).alias("deviation_ppm"),
    )


# ---------------------------------------------------------------------------
# Earth-mover drift (q215): q168's TVD ignores that a histogram is
# ORDERED — a one-bucket shift and a ten-bucket shift look identical to
# it. 1-D EMD (Wasserstein-1) is the L1 distance between CDFs and weighs
# distance moved; exact integers via cross-multiplication.
# ---------------------------------------------------------------------------


@query(
    "q215_emd_drift",
    oracle="""
    WITH s AS (
      SELECT CAST(least(floor(o_totalprice / 30000), 9) AS BIGINT) AS bin,
             CAST(o_orderdate < TIMESTAMP '1998-01-01' AS INTEGER) AS before
      FROM orders
    ),
    c0 AS (
      SELECT bin, CAST(SUM(before) AS BIGINT) AS c1,
             CAST(SUM(1 - before) AS BIGINT) AS c2
      FROM s GROUP BY bin
    ),
    -- densify to the LITERAL 10-bin grid: a bin nobody occupies still
    -- separates the two CDFs, and walking only OBSERVED bins under-
    -- counts W1 exactly there (e.g. before at bin 0, after at bin 2:
    -- true EMD is 2 bins, the sparse walk said 1)
    c AS (
      SELECT g.bin, COALESCE(c0.c1, 0) AS c1, COALESCE(c0.c2, 0) AS c2
      FROM (SELECT CAST(UNNEST(range(10)) AS BIGINT) AS bin) g
      LEFT JOIN c0 ON c0.bin = g.bin
    ),
    t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM c),
    w AS (
      SELECT bin,
             SUM(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f2
      FROM c
    )
    SELECT t.n1 AS n_before, t.n2 AS n_after,
           CAST(SUM(abs(w.f1 * t.n2 - w.f2 * t.n1)) AS BIGINT) AS emd_numer,
           CAST(SUM(abs(w.f1 * t.n2 - w.f2 * t.n1)) AS DOUBLE) / (t.n1 * t.n2)
             AS emd_bins
    FROM w, t GROUP BY t.n1, t.n2
    """,
)
def q215_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 drift between two periods' price distributions over
    a fixed 10-bin grid: EMD = Σ_bins |F₁ − F₂| of the CDFs, computed as
    the exact integer Σ|cum₁·N₂ − cum₂·N₁| over the common denominator —
    the ORDERED drift metric (a distribution sliding one bin right scores
    1/10th of one sliding ten bins; q168's TVD scores both the same,
    which is why monitoring stacks report both). One scan builds the
    binned counts; the CDF walk runs over the 10-row histogram; units of
    the final float are "bins moved per unit mass".

    At 100 TB the bins come from q153's equi-depth boundaries instead of
    a fixed grid — same plan downstream of the bucketing."""
    o = load(spark, sf_dir, "orders")
    before = (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")).cast("int")
    s = o.select(
        F.least(F.floor(F.col("o_totalprice") / 30000), F.lit(9))
        .cast("long")
        .alias("bin"),
        before.alias("before"),
    )
    c0 = s.groupBy("bin").agg(
        F.sum("before").cast("bigint").alias("c1"),
        F.sum(1 - F.col("before")).cast("bigint").alias("c2"),
    )
    # Densify to the literal 10-bin grid (round 7): an EMPTY bin between
    # the two distributions still separates their CDFs, and a walk over
    # observed bins only under-counts W1 there — the definition gap the
    # shared-formula oracle can't see (both engines walked the same
    # sparse rows). The planted test pins it: before at bin 0, after at
    # bin 2 must score 2.0 bins, not 1.0.
    spine = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    c = spine.join(c0, "bin", "left").select(
        "bin",
        F.coalesce("c1", F.lit(0)).cast("bigint").alias("c1"),
        F.coalesce("c2", F.lit(0)).cast("bigint").alias("c2"),
    )
    t = c.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = c.select(
        "bin",
        F.sum("c1").over(wb).alias("f1"),
        F.sum("c2").over(wb).alias("f2"),
    )
    j = w.crossJoin(F.broadcast(t))
    diff = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return j.groupBy(
        F.col("n1").alias("n_before"), F.col("n2").alias("n_after")
    ).agg(
        F.sum(diff).cast("bigint").alias("emd_numer"),
        (F.sum(diff).cast("double") / (F.col("n1") * F.col("n2"))).alias("emd_bins"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample statistic (q218): max CDF gap — the
# third drift lens (TVD q168: unordered mass; EMD q215: mass × distance;
# KS: worst single point). All three share the exact cross-multiplied
# integer machinery.
# ---------------------------------------------------------------------------


@query(
    "q218_ks_test",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('click', 'error')
    ),
    pts AS (
      SELECT cents,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM s GROUP BY cents
    ),
    t AS (
      SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM pts
    ),
    cum AS (
      SELECT cents,
             SUM(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS fa,
             SUM(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS fb
      FROM pts
    )
    SELECT t.na, t.nb,
           CAST(MAX(abs(cum.fa * t.nb - cum.fb * t.na)) AS BIGINT) AS ks_numer,
           CAST(MAX(abs(cum.fa * t.nb - cum.fb * t.na)) AS DOUBLE) / (t.na * t.nb)
             AS ks_stat
    FROM cum, t GROUP BY t.na, t.nb
    """,
)
def q218_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the click and
    error value distributions: D = max over observed points of
    |F₁ − F₂|, computed as the exact integer max|cum₁·N₂ − cum₂·N₁| over
    the merged support (one grouped reduction to distinct values, one
    cumulative walk over the bounded value histogram — the empirical
    CDFs only change at observed points, so checking every distinct
    value IS the exact supremum). Completes the drift triptych: q168's
    TVD reads total reshuffled mass, q215's EMD reads mass × distance,
    KS reads the single worst vertical gap — the statistic with the
    classical significance table.

    The support table is |distinct values| rows; its cumulative window
    is the only ordered pass, and the heavy input never survives the
    first map-side-combining reduction."""
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "error")).select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    pts = s.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint").alias("b"),
    )
    t = pts.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pts.select(
        F.sum("a").over(w).alias("fa"), F.sum("b").over(w).alias("fb")
    )
    diff = F.abs(F.col("fa") * F.col("nb") - F.col("fb") * F.col("na"))
    return (
        cum.crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(
            F.max(diff).cast("bigint").alias("ks_numer"),
            (F.max(diff).cast("double") / (F.col("na") * F.col("nb"))).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Sample-ratio mismatch (q219): the experimentation guardrail — if the
# hash split says 50/50 and the arms aren't, the EXPERIMENT is broken
# before any metric is read.
# ---------------------------------------------------------------------------


@query(
    "q219_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':exp1'),
                               1, 8) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             user_id
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    c0 AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM arms GROUP BY arm
    ),
    -- densify to the declared design: a zero-user arm must surface
    c AS (
      SELECT g.arm, COALESCE(c0.n, 0) AS n
      FROM (SELECT UNNEST(['control', 'treatment']) AS arm) g
      LEFT JOIN c0 ON c0.arm = g.arm
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.arm, CAST(c.n AS BIGINT) AS n, t.total,
           -- 128-bit exact square ((2n-N)^2 is ~users^2, the q402
           -- class), one cast to double at the division
           CAST(CAST(2 * c.n - t.total AS HUGEINT)
                * CAST(2 * c.n - t.total AS HUGEINT) AS DOUBLE)
             / (2.0 * t.total) AS chi2_contrib
    FROM c, t
    """,
)
def q219_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: users assign to control/treatment
    by the stable peppered hash (the q68 split machinery — never rand(),
    so the assignment is reproducible and the check is re-runnable), and
    each arm's χ² contribution against the declared 50/50 is the exact
    rational (2n−N)²/(2N) — one distinct-users reduction and a 2-row
    audit. A contribution summing past ~3.84 (χ²₁ at 5%) means the
    assignment or logging pipeline is dropping one arm's users, which
    invalidates every downstream metric (the first check an A/B platform
    runs, before q144's t-test ever fires).

    Generalizing to unequal declared ratios swaps the constants; per-day
    SRM (detecting when the breakage STARTED) adds the day key to both
    reductions."""
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    arms = ev.select("user_id").distinct().select(arm.alias("arm"))
    c0 = arms.groupBy("arm").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # densify to the declared two-arm design (round 8): an arm that
    # logged ZERO users — the exact breakage SRM exists to catch — must
    # surface as a row with contribution N/2, not vanish
    spine = spark.createDataFrame(
        [("control",), ("treatment",)], "arm string"
    )
    c = spine.join(c0, "arm", "left").select(
        "arm", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "arm",
        "n",
        "total",
        (
            # exact DECIMAL(38,0) square ((2n-N)^2 is ~users^2, the
            # q402 class), one cast to double at the division
            (
                (2 * F.col("n") - F.col("total")).cast("decimal(38,0)")
                * (2 * F.col("n") - F.col("total")).cast("decimal(38,0)")
            ).cast("double")
            / (F.lit(2.0) * F.col("total"))
        ).alias("chi2_contrib"),
    )


@query(
    "q239_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, p_partkey AS anc FROM part
      UNION ALL
      SELECT node, anc // 10 FROM anc WHERE anc > 0
    ),
    v AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    )
    SELECT CAST(a.anc AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_desc,
           CAST(SUM(v.cents) AS BIGINT) AS subtree_value_cents
    FROM anc a JOIN v ON v.p_partkey = a.node
    GROUP BY a.anc
    """,
)
def q239_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY-DEPTH hierarchy (BOM) rollup: every node's subtree
    count and value, on the implicit decimal tree parent(k) = k÷10.
    The oracle walks it as a RECURSIVE CTE; the Spark plan is the
    scale-correct DECORRELATION — each leaf emits its ancestor PATH
    array-side (transform over ⌈log₁₀ key-space⌉ integer divisions +
    array_distinct, zero shuffle, depth-bounded fan-out) and ONE
    ancestor-keyed aggregate sums subtrees. No iteration, no driver
    loop, no joins proportional to depth: a D-level hierarchy costs a
    D× row expansion of (key, cents) pairs and one exchange — the same
    flatten-the-hierarchy move every dimensional model makes, but
    computed rather than hand-maintained. (q163 is the fixed-two-level
    special case; q61/q94 handle recursion whose DEPTH is data-driven —
    here depth is key-width-bounded, so the path explode wins.)"""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    # 8 levels cover any int64 partkey realistically present (10^8 ids at
    # sf100); array_distinct collapses the trailing zeros into one root.
    anc = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(8)),
            lambda i: F.floor(F.col("p_partkey") / F.pow(F.lit(10.0), i)).cast(
                "bigint"
            ),
        )
    )
    return (
        p.select(F.explode(anc).alias("node"), "cents")
        .groupBy(F.col("node").cast("bigint").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_desc"),
            F.sum("cents").cast("bigint").alias("subtree_value_cents"),
        )
    )


@query(
    "q241_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c.c_custkey,
             c.c_nationkey AS nat,
             c.c_mktsegment AS seg,
             CAST(floor(floor(c.c_acctbal * 100 + 0.5) / 100000) AS BIGINT) AS bal_band
      FROM customer c
    ),
    grp AS (
      SELECT nat, seg, bal_band,
             CAST(COUNT(*) AS BIGINT) AS group_size
      FROM qi GROUP BY nat, seg, bal_band
    ),
    ldiv AS (
      SELECT q.nat, q.seg, q.bal_band,
             CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
      FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey
      GROUP BY q.nat, q.seg, q.bal_band
    )
    SELECT g.nat, g.seg, g.bal_band, g.group_size,
           COALESCE(l.l_distinct, 0) AS l_distinct
    FROM grp g LEFT JOIN ldiv l
      ON l.nat = g.nat AND l.seg = g.seg AND l.bal_band = g.bal_band
    WHERE g.group_size < 5
    """,
)
def q241_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY + L-DIVERSITY audit — the re-identification risk
    report a governance layer runs before release (the operational
    sibling of q98's PII scrub and q186's pseudonymization): group by
    the quasi-identifier tuple (nation, segment, $1000 balance band),
    flag groups smaller than k=5, and measure each flagged group's
    diversity of the sensitive attribute (distinct order priorities of
    its members — an attacker who pins the group learns the sensitive
    value when l=1). Plan: one QI-keyed aggregate for sizes; the
    l-diversity join runs custkey-keyed THEN re-aggregates on QI —
    both exchanges combiner-friendly; the balance band is exact cents
    integer division so the banding never float-drifts a member across
    groups. At 100 TB the flagged set is the output — tiny — and the
    generalization loop (widen bands until no violations) is this
    query re-run with a coarser band divisor."""
    c = load(spark, sf_dir, "customer")
    qi = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)) / 100000
        )
        .cast("bigint")
        .alias("bal_band"),
    )
    grp = qi.groupBy("nat", "seg", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size")
    )
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    ldiv = (
        qi.join(o, qi.c_custkey == o.o_custkey)
        .groupBy("nat", "seg", "bal_band")
        .agg(F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"))
    )
    return (
        grp.filter(F.col("group_size") < 5)
        .join(ldiv, ["nat", "seg", "bal_band"], "left")
        .select(
            "nat",
            "seg",
            "bal_band",
            "group_size",
            F.coalesce(F.col("l_distinct"), F.lit(0)).alias("l_distinct"),
        )
    )


@query(
    "q243_loo_target_encoding",
    oracle="""
    WITH t AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT seg, CAST(SUM(cents) AS BIGINT) AS s_cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t GROUP BY seg
    )
    SELECT CAST(t.o_orderkey AS BIGINT) AS o_orderkey, t.seg,
           CAST(s.s_cents - t.cents AS DOUBLE)
             / CAST((s.n - 1) * 100 AS DOUBLE) AS loo_encoding
    FROM t JOIN s ON s.seg = t.seg
    """,
)
def q243_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the leakage-correct categorical
    feature: each row's category value becomes the mean target of the
    OTHER rows in its category, (Σ − self)/(n − 1), so the row's own
    label never leaks into its feature (the W7 no-leakage rule applied
    to feature engineering; naive mean encoding leaks and overfits).
    Exact: sums and counts are integer cents; the subtraction happens
    in int64 per row; ONE final division to dollars. Plan: one
    category aggregate (|categories| rows — broadcast back onto the
    fact), zero windows, zero self-joins — at 100 TB the encoding is
    a map-side join against a tiny statistics table, recomputable
    per-fold by adding the fold key to both group-bys. The customer
    enrich is size-gated, not hinted (r12 audit: customers scale);
    only the 5-row segment-stats table keeps its broadcast hint."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    s = t.groupBy("seg").agg(
        F.sum("cents").cast("bigint").alias("s_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return t.join(F.broadcast(s), "seg").select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "seg",
        (
            (F.col("s_cents") - F.col("cents")).cast("double")
            / ((F.col("n") - 1) * 100).cast("double")
        ).alias("loo_encoding"),
    )


@query(
    "q256_maxmin_fair_share",
    oracle="""
    WITH demand AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS d
      FROM documents GROUP BY source
    ),
    cap AS (SELECT CAST(SUM(d) // 2 AS BIGINT) AS c FROM demand),
    ranked AS (
      SELECT source, d,
             ROW_NUMBER() OVER (ORDER BY d, source) AS k,
             CAST(COALESCE(SUM(d) OVER (ORDER BY d, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS p_before,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM demand
    ),
    flagged AS (
      SELECT r.*, cap.c,
             CASE WHEN r.d * (r.n - r.k + 1) + r.p_before <= cap.c
                  THEN 1 ELSE 0 END AS satisfied
      FROM ranked r, cap
    ),
    boundary AS (
      SELECT COALESCE(MIN(k), CAST(1e18 AS BIGINT)) AS k_star
      FROM flagged WHERE satisfied = 0
    ),
    enriched AS (
      SELECT f.*, b.k_star,
             CASE WHEN f.k >= b.k_star THEN
               ROW_NUMBER() OVER (PARTITION BY CASE WHEN f.k >= b.k_star
                                               THEN 1 ELSE 0 END
                                  ORDER BY f.source)
             END AS rem_rank
      FROM flagged f, boundary b
    ),
    leveled AS (
      SELECT e.*,
             CAST(e.c - (SELECT COALESCE(SUM(d), 0) FROM flagged
                         WHERE satisfied = 1) AS BIGINT) AS r_cap,
             CAST(e.n - e.k_star + 1 AS BIGINT) AS m
      FROM enriched e
    )
    SELECT source, d AS demand_tokens,
           CAST(CASE WHEN satisfied = 1 THEN d
                ELSE r_cap // m
                     + CASE WHEN rem_rank <= r_cap % m THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc_tokens,
           CAST(1 - satisfied AS BIGINT) AS capped
    FROM leveled
    """,
)
def q256_maxmin_fair_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-MIN FAIR SHARE (water-filling) — allocate a token budget
    (half the corpus) across sources so no source can gain without a
    smaller one losing: small demands are fully satisfied, the rest
    split the remainder at a common level — the allocation rule behind
    multi-tenant schedulers AND capped training-mix composition (q231's
    temperature mix answers 'what proportions'; this answers 'who gets
    cut when the budget binds'). Everything is exact integers: the
    satisfiability test is the cross-multiply d·(remaining) + prefix ≤ C
    evaluated per rank in ONE sorted pass over the |sources|-bounded
    demand table; the level is floor division with the remainder handed
    to capped tenants in deterministic source order (Σalloc ≡ C, proven
    in the test). Windows run on the tiny aggregate — the fact scan
    contributes one combiner aggregate, nothing else."""
    d = load(spark, sf_dir, "documents")
    demand = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("d")
    )
    cap = demand.agg(F.expr("CAST(SUM(d) DIV 2 AS BIGINT)").alias("c"))
    wk = Window.orderBy("d", "source")
    ranked = demand.select(
        "source",
        "d",
        F.row_number().over(wk).alias("k"),
        F.coalesce(
            F.sum("d").over(wk.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
        .cast("bigint")
        .alias("p_before"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    flagged = ranked.crossJoin(F.broadcast(cap)).withColumn(
        "satisfied",
        F.when(
            F.col("d") * (F.col("n") - F.col("k") + 1) + F.col("p_before")
            <= F.col("c"),
            1,
        ).otherwise(0),
    )
    boundary = flagged.agg(
        F.coalesce(
            F.min(F.when(F.col("satisfied") == 0, F.col("k"))),
            F.lit(10**18),
        ).alias("k_star"),
        F.coalesce(
            F.sum(F.when(F.col("satisfied") == 1, F.col("d"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sat_sum"),
    )
    wr = Window.partitionBy(F.col("k") >= F.col("k_star")).orderBy("source")
    enriched = (
        flagged.crossJoin(F.broadcast(boundary))
        .withColumn(
            "rem_rank",
            F.when(F.col("k") >= F.col("k_star"), F.row_number().over(wr)),
        )
        .withColumn("r_cap", (F.col("c") - F.col("sat_sum")).cast("bigint"))
        .withColumn("m", (F.col("n") - F.col("k_star") + 1).cast("bigint"))
    )
    alloc = F.when(F.col("satisfied") == 1, F.col("d")).otherwise(
        F.expr("CAST(r_cap DIV m AS BIGINT)")
        + F.when(F.col("rem_rank") <= F.expr("r_cap % m"), 1).otherwise(0)
    )
    return enriched.select(
        "source",
        F.col("d").alias("demand_tokens"),
        alloc.cast("bigint").alias("alloc_tokens"),
        (1 - F.col("satisfied")).cast("bigint").alias("capped"),
    )


@query(
    "q264_deletion_propagation",
    oracle="""
    WITH victims AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    o AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM victims)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM victims) AS BIGINT) AS n_rows_purged
    UNION ALL
    SELECT 'orders', CAST((SELECT COUNT(*) FROM o) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o)) AS BIGINT)
    """,
)
def q264_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-PROPAGATION (right-to-erasure) PLAN — given a deletion
    cohort (hash-chosen stand-in for a GDPR request list), size the
    cascade across the foreign-key chain customer → orders → lineitem
    before executing it: the dry-run report a compliance pipeline files
    with every purge. Each hop is a LEFT SEMI join down the FK edge
    (the victim set is size-gated, not hinted — r12 audit: a deletion
    cohort scales with the customer base, so AQE broadcasts a small
    request list and shuffles a large one; the orderkey set stays
    distributed — at 100 TB both hops are shuffled semi joins, never
    an IN-list collect).
    The actual purge is these same semi joins flipped to LEFT ANTI and
    rewritten partition-wise (sources/io.py's dynamic overwrite); the
    post-purge orphan check is q19/q59's referential audit, which must
    return zero by construction because the cascade walked every edge
    of the FK graph."""
    c = load(spark, sf_dir, "customer")
    victims = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dead_orders = o.join(
        victims, o.o_custkey == victims.c_custkey, "left_semi"
    ).select("o_orderkey")
    n_c = victims.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n_o = dead_orders.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n_l = li.join(dead_orders, li.l_orderkey == dead_orders.o_orderkey, "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        n_c.select(F.lit("customer").alias("table_name"), F.col("n").alias("n_rows_purged"))
        .unionAll(
            n_o.select(F.lit("orders").alias("table_name"), F.col("n").alias("n_rows_purged"))
        )
        .unionAll(
            n_l.select(F.lit("lineitem").alias("table_name"), F.col("n").alias("n_rows_purged"))
        )
    )


@query(
    "q270_dependency_profiling",
    oracle="""
    WITH fd1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
      FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY n_nationkey)
    ),
    fd2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
      FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY c_nationkey)
    ),
    key1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
      FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS c
            FROM lineitem GROUP BY l_orderkey, l_linenumber)
    ),
    key2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
      FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey)
    )
    SELECT 'nation.nationkey->regionkey' AS candidate, n_groups, n_viol,
           CAST(CASE WHEN n_viol = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM fd1
    UNION ALL
    SELECT 'customer.nationkey->mktsegment', n_groups, n_viol,
           CAST(CASE WHEN n_viol = 0 THEN 1 ELSE 0 END AS BIGINT) FROM fd2
    UNION ALL
    SELECT 'lineitem.(orderkey,linenumber) unique', n_groups, n_viol,
           CAST(CASE WHEN n_viol = 0 THEN 1 ELSE 0 END AS BIGINT) FROM key1
    UNION ALL
    SELECT 'orders.orderkey unique', n_groups, n_viol,
           CAST(CASE WHEN n_viol = 0 THEN 1 ELSE 0 END AS BIGINT) FROM key2
    """,
)
def q270_dependency_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY & CANDIDATE-KEY discovery — the schema-
    inference profiler behind data catalogs: does X → Y hold (every X
    group has ONE distinct Y), is K a key (every K group has one row)?
    Each candidate is one grouped count-distinct with map-side combine;
    violations are groups breaking the invariant, and the verdict row
    feeds the catalog (a holding FD becomes a declared constraint the
    optimizer and the q151 expectations engine both exploit; a 99%-FD
    is a data-quality lead). The candidate list here is fixed; a full
    discovery run enumerates column pairs under a pruning lattice —
    each candidate still being exactly this query shape. True/false
    verdicts on real PK/FK structure (orders.orderkey unique holds;
    customer nationkey→segment famously does not)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def fd(df, lhs, rhs, name):
        g = df.groupBy(*lhs).agg(F.countDistinct(*rhs).alias("nd"))
        return g.agg(
            F.lit(name).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_viol"),
        ).withColumn(
            "holds",
            F.when(F.col("n_viol") == 0, 1).otherwise(0).cast("bigint"),
        )

    def key(df, cols, name):
        g = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
        return g.agg(
            F.lit(name).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_viol"),
        ).withColumn(
            "holds",
            F.when(F.col("n_viol") == 0, 1).otherwise(0).cast("bigint"),
        )

    return (
        fd(n, ["n_nationkey"], ["n_regionkey"], "nation.nationkey->regionkey")
        .unionAll(
            fd(c, ["c_nationkey"], ["c_mktsegment"], "customer.nationkey->mktsegment")
        )
        .unionAll(
            key(
                li,
                ["l_orderkey", "l_linenumber"],
                "lineitem.(orderkey,linenumber) unique",
            )
        )
        .unionAll(key(o, ["o_orderkey"], "orders.orderkey unique"))
    )


@query(
    "q276_ledger_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS lines_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
             COALESCE(li.lines_cents, 0) AS lines_cents
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    graded AS (
      SELECT CASE
               WHEN lines_cents = 0 THEN 'no-lines'
               WHEN header_cents = lines_cents THEN 'exact'
               WHEN abs(header_cents - lines_cents) * 100 <= header_cents
                 THEN 'within-1pct'
               ELSE 'mismatch' END AS grade,
             header_cents, lines_cents
      FROM j
    )
    SELECT grade,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(header_cents) AS BIGINT) AS header_total_cents,
           CAST(SUM(lines_cents) AS BIGINT) AS lines_total_cents,
           CAST(SUM(abs(header_cents - lines_cents)) AS BIGINT) AS abs_drift_cents
    FROM graded GROUP BY grade
    """,
)
def q276_ledger_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEDGER RECONCILIATION — the finance-ops control: does every
    order header's total agree with the sum of its lines? Exact-cents
    comparison graded into exact / within-1% (integer cross-multiply
    tolerance, never a float epsilon) / mismatch / no-lines, with the
    aggregate drift per grade — the daily close report that catches
    partial loads, double-applied discounts, and the q14 gap-repair
    cases from the money side instead of the key side. One line-level
    combiner aggregate + a LEFT join (headers without lines MUST
    surface — an inner join would hide exactly the broken orders), one
    grade rollup. On this synthetic data headers are generated
    independently of lines, so 'mismatch' dominating is itself the
    correct finding — the report's value is that its counts are
    deterministic and auditable."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lines = li.groupBy("l_orderkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("lines_cents")
    )
    j = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias(
            "header_cents"
        ),
    ).join(lines, F.col("o_orderkey") == lines.l_orderkey, "left").select(
        "header_cents", F.coalesce("lines_cents", F.lit(0)).alias("lines_cents")
    )
    grade = (
        F.when(F.col("lines_cents") == 0, "no-lines")
        .when(F.col("header_cents") == F.col("lines_cents"), "exact")
        .when(
            F.abs(F.col("header_cents") - F.col("lines_cents")) * 100
            <= F.col("header_cents"),
            "within-1pct",
        )
        .otherwise("mismatch")
    )
    return j.groupBy(grade.alias("grade")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("header_cents").cast("bigint").alias("header_total_cents"),
        F.sum("lines_cents").cast("bigint").alias("lines_total_cents"),
        F.sum(F.abs(F.col("header_cents") - F.col("lines_cents")))
        .cast("bigint")
        .alias("abs_drift_cents"),
    )


@query(
    "q284_suppressed_rollup",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(nat AS BIGINT) AS nat,
           CASE WHEN n >= 5 THEN seg ELSE '<suppressed>' END AS seg,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(bal_cents) AS BIGINT) AS bal_cents
    FROM cells
    GROUP BY nat, CASE WHEN n >= 5 THEN seg ELSE '<suppressed>' END
    """,
)
def q284_suppressed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY-SUPPRESSED ROLLUP — the census-style disclosure control
    for published reports: cells smaller than k=5 do not appear under
    their own label; they merge into one '<suppressed>' bucket per
    parent group, so totals still reconcile (nothing is dropped —
    Σn is conserved, test-pinned) but no small cell is attributable.
    This is the REPORTING-side complement of q241's k-anonymity audit:
    q241 finds risky groups in the microdata, this makes the published
    aggregate safe. Two aggregations — the cell build (one combiner
    pass over the facts) and the suppression re-group, which runs on
    the |cells|-bounded table. A secondary-suppression pass (hide one
    more cell when only one is hidden, else it's recoverable by
    subtraction) is the same re-group keyed on parent totals."""
    c = load(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").alias("nat"), F.col("c_mktsegment").alias("seg")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("bal_cents"),
    )
    label = F.when(F.col("n") >= 5, F.col("seg")).otherwise("<suppressed>")
    return cells.groupBy(
        F.col("nat").cast("bigint").alias("nat"), label.alias("seg")
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("bal_cents").cast("bigint").alias("bal_cents"),
    )


@query(
    "q285_topk_plus_other",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rev_cents DESC, l_partkey) AS rnk
      FROM per_part
    )
    SELECT CAST(CASE WHEN rnk <= 20 THEN l_partkey ELSE -1 END AS BIGINT)
             AS part_or_other,
           CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ranked
    GROUP BY CASE WHEN rnk <= 20 THEN l_partkey ELSE -1 END
    """,
)
def q285_topk_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K + OTHER — the high-cardinality dashboard pattern: the 20
    highest-revenue parts individually, everything else collapsed into
    one OTHER row (key −1) that keeps the report's total exactly equal
    to the fact total (a top-k WITHOUT the residual silently drops the
    tail — the classic dashboard lie; conservation is test-pinned).
    Plan: one combiner aggregate to per-key totals, the rank over that
    aggregate via operators.rowids.stable_row_ids (r10 global-window
    audit: |keys| is part-proportional, so the old global row_number
    window was the entity-rank hazard class — the range-partitioned
    row-id form replaces it; the q85/topk.py associative two-phase
    operator remains the alternative when only the top slice is
    needed), then the re-group with the rank-gated key. The
    deterministic (revenue, key) tiebreak makes the published top-20
    stable across runs — a report that flickers between equal-revenue
    parts is a support ticket."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    ranked = stable_row_ids(
        per_part, [F.col("rev_cents").desc(), "l_partkey"], id_col="rnk", start=1
    )
    key = F.when(F.col("rnk") <= 20, F.col("l_partkey")).otherwise(-1)
    return ranked.groupBy(key.cast("bigint").alias("part_or_other")).agg(
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U (q297): the rank-based two-sample test — completes the
# nonparametric corner of the stats suite (Welch q144 compares means,
# KS q218 compares CDFs pointwise, MWU compares stochastic dominance).
# ---------------------------------------------------------------------------


@query(
    "q297_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pts AS (
      SELECT cents,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM s GROUP BY cents
    ),
    cum AS (
      SELECT cents, a, b,
             COALESCE(SUM(a + b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_n
      FROM pts
    ),
    -- doubled rank sums are the q402 overflow class (~n^2, past int64
    -- at a few billion events): DECIMAL(38,0) accumulators internal;
    -- OUTPUTS cast to BIGINT (driver hasher rejects DECIMAL, r10)
    t AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
             CAST(SUM(CAST(a AS DECIMAL(38,0)) * (2 * before_n + a + b + 1))
                  AS DECIMAL(38,0)) AS r1_doubled
      FROM cum
    ),
    u AS (
      SELECT n1, n2, r1_doubled,
             CAST(r1_doubled - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                  AS DECIMAL(38,0)) AS u1_doubled
      FROM t
    )
    SELECT n1, n2,
           CAST(r1_doubled AS BIGINT) AS r1_doubled,
           CAST(u1_doubled AS BIGINT) AS u1_doubled,
           CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2 - u1_doubled
                AS BIGINT) AS u2_doubled,
           CAST(u1_doubled AS DOUBLE) / (2.0 * n1 * n2) AS auc_hat
    FROM u
    """,
)
def q297_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN–WHITNEY U — exact, tie-corrected, and integer all the way:
    pooled ranks are never materialized per row. The pooled sample
    collapses to its distinct-value histogram first (q218's bounded-
    support move); for a value with group counts (a, b) entered after
    before_n pooled observations, every member shares the midrank
    (2·before_n + a + b + 1)/2, so DOUBLED rank sums stay integers
    (the house ×2 rule for halves). R1 in one cumulative walk over the
    histogram, then U1 = R1 − n1(n1+1)/2 — reported doubled, with the
    identity U1 + U2 = n1·n2 property-tested. auc_hat = U1/(n1·n2) is
    the probability a random view-value exceeds a random click-value —
    the effect size this test actually estimates (and the exact
    pairwise-comparison AUC, the q238 statistic through a rank
    identity). Heavy input dies in the first map-side combine; the
    only ordered pass runs over the bounded support."""
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    pts = s.groupBy("cents").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("b"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.withColumn(
        "before_n", F.coalesce(F.sum(F.col("a") + F.col("b")).over(w), F.lit(0))
    )
    # doubled rank sums are the q402 overflow class (~n^2, past int64
    # at a few billion events): DECIMAL(38,0) accumulators stay internal;
    # the OUTPUT columns cast to BIGINT because the driver hasher
    # serializes DECIMAL differently across engines (r10 red class) —
    # r1_doubled <= n(n+1) fits int64 below ~3e9 pooled events, and ANSI
    # mode throws rather than wraps past that
    t = cum.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
        F.sum(
            F.col("a").cast("decimal(38,0)")
            * (2 * F.col("before_n") + F.col("a") + F.col("b") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_doubled"),
    )
    u1 = (
        F.col("r1_doubled")
        - F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
    ).cast("decimal(38,0)")
    return t.select(
        "n1",
        "n2",
        F.col("r1_doubled").cast("bigint").alias("r1_doubled"),
        u1.cast("bigint").alias("u1_doubled"),
        (2 * F.col("n1").cast("decimal(38,0)") * F.col("n2") - u1)
        .cast("bigint")
        .alias("u2_doubled"),
        (
            u1.cast("double")
            / (2.0 * F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("auc_hat"),
    )


IMPUTE_DROP_MOD = 13  # customers hashing to 0 mod 13 lose their segment


@query(
    "q307_mode_imputation",
    oracle=f"""
    WITH feed AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                       || ':seg'), 1, 8) AS BIGINT) % {IMPUTE_DROP_MOD} = 0
                  THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    ),
    modes AS (
      SELECT c_nationkey, seg AS mode_seg
      FROM (
        SELECT c_nationkey, seg, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY COUNT(*) DESC, seg) AS rn
        FROM feed WHERE seg IS NOT NULL
        GROUP BY c_nationkey, seg
      ) WHERE rn = 1
    )
    SELECT f.c_custkey,
           CAST(f.c_nationkey AS BIGINT) AS c_nationkey,
           f.seg IS NULL AS was_imputed,
           COALESCE(f.seg, m.mode_seg) AS segment
    FROM feed f JOIN modes m ON m.c_nationkey = f.c_nationkey
    """,
)
def q307_mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE IMPUTATION — categorical repair by per-group majority vote:
    a deterministic 1/13 of customers lose their market
    segment (md5 punch-out simulating a lossy upstream), and each hole
    is filled with the MODE segment of the customer's nation computed
    over the SURVIVING rows only (imputing from values you still trust,
    never from other holes). Ties break lexicographically (q22's mode
    rule) so the repair is total and deterministic. Plan: one grouped
    count + ROW_NUMBER over a 5-row-per-nation aggregate picks modes;
    the repair itself is a BROADCAST join of the 25-row mode table onto
    the scan — at 100 TB imputation costs one pass and zero wide
    shuffles of the fact table. Property-tested: surviving rows pass
    through byte-identical, and every imputed value equals an
    independently computed majority."""
    c = load(spark, sf_dir, "customer")
    punched = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":seg"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % IMPUTE_DROP_MOD
        == 0
    )
    feed = c.select(
        "c_custkey",
        "c_nationkey",
        F.when(punched, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    counts = (
        feed.filter(F.col("seg").isNotNull())
        .groupBy("c_nationkey", "seg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("c_nationkey").orderBy(F.col("cnt").desc(), "seg")
    modes = (
        counts.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("seg").alias("mode_seg"))
    )
    return feed.join(F.broadcast(modes), "c_nationkey").select(
        "c_custkey",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.col("seg").isNull().alias("was_imputed"),
        F.coalesce("seg", "mode_seg").alias("segment"),
    )


# ---------------------------------------------------------------------------
# CUPED (q316): variance-reduced experiment readout — the industry-standard
# use of pre-period data to shrink A/B confidence intervals ~30-50%.
# ---------------------------------------------------------------------------


@query(
    "q316_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click'
                       AND CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                     || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             pre, post
      FROM per_user
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS sx,
             CAST(SUM(post) AS BIGINT) AS sy,
             CAST(SUM(pre * pre) AS BIGINT) AS sxx,
             CAST(SUM(pre * post) AS BIGINT) AS sxy
      FROM armed
    )
    SELECT a.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(a.pre) AS BIGINT) AS sum_pre,
           CAST(SUM(a.post) AS BIGINT) AS sum_post,
           CAST(g.n * g.sxy - g.sx * g.sy AS BIGINT) AS theta_numer,
           CAST(g.n * g.sxx - g.sx * g.sx AS BIGINT) AS theta_denom,
           CAST(SUM(a.post) AS DOUBLE) / COUNT(*)
             - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                / (g.n * g.sxx - g.sx * g.sx))
               * (CAST(SUM(a.pre) AS DOUBLE) / COUNT(*)
                  - CAST(g.sx AS DOUBLE) / g.n) AS adj_mean_cents
    FROM armed a, g
    GROUP BY a.arm, g.n, g.sx, g.sy, g.sxx, g.sxy
    """,
)
def q316_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — the pre-period covariate adjustment every large
    experimentation platform runs (Deng et al., WSDM'13): the readout
    metric Y is replaced by Y − θ(X − X̄) with θ = cov(X,Y)/var(X),
    where X is the user's PRE-experiment activity (clicks before the
    Jan 16 launch) — removing between-user variance that randomization
    alone leaves in the comparison, shrinking CIs without bias (θ is
    computed POOLED across arms, never per-arm — the classic CUPED
    implementation bug that reintroduces bias). θ's numerator and
    denominator are exact integers (n·Σxy − ΣxΣy over n·Σxx − Σx² —
    q23's cross-multiply rule) and are REPORTED so downstream can
    re-derive θ at any aggregation level; the adjusted means divide
    once at the edge in a fixed expression order. Arms come from
    q219's md5 hash split (the same experiment machinery). Plan: one
    per-user rollup (the only user-keyed shuffle), a broadcast 1-row
    pooled-moments aggregate, a 2-group readout."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "click") & (F.to_date("ts") < cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pre"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("post"),
    )
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    armed = per_user.select(arm.alias("arm"), "pre", "post")
    g = armed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").cast("long").alias("sx"),
        F.sum("post").cast("long").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).cast("long").alias("sxx"),
        F.sum(F.col("pre") * F.col("post")).cast("long").alias("sxy"),
    )
    per_arm = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("pre").cast("bigint").alias("sum_pre"),
        F.sum("post").cast("bigint").alias("sum_post"),
    )
    j = per_arm.crossJoin(F.broadcast(g))
    theta_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    theta_d = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return j.select(
        "arm",
        "n_users",
        "sum_pre",
        "sum_post",
        theta_n.cast("bigint").alias("theta_numer"),
        theta_d.cast("bigint").alias("theta_denom"),
        (
            F.col("sum_post").cast("double") / F.col("n_users")
            - (theta_n.cast("double") / theta_d)
            * (
                F.col("sum_pre").cast("double") / F.col("n_users")
                - F.col("sx").cast("double") / F.col("n")
            )
        ).alias("adj_mean_cents"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA (q323): the k-group generalization of q144's Welch t —
# pivoted to ONE row of integer moments so every float combines in a
# fixed, engine-identical expression order.
# ---------------------------------------------------------------------------

_ANOVA_GROUPS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _anova_sql() -> str:
    cols = []
    for i, g in enumerate(_ANOVA_GROUPS):
        cond = f"o_orderpriority = '{g}'"
        cols += [
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}",
            f"CAST(SUM(CASE WHEN {cond} THEN dollars ELSE 0 END) AS BIGINT) AS s{i}",
            f"CAST(SUM(CASE WHEN {cond} THEN dollars * dollars ELSE 0 END)"
            f" AS BIGINT) AS q{i}",
        ]
    k = len(_ANOVA_GROUPS)
    n = " + ".join(f"n{i}" for i in range(k))
    s = " + ".join(f"s{i}" for i in range(k))
    q = " + ".join(f"q{i}" for i in range(k))
    ssb_terms = " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(k)
    )
    return f"""
    WITH m AS (
      SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS dollars,
             o_orderpriority
      FROM orders
    ),
    piv AS (SELECT {", ".join(cols)} FROM m),
    d AS (
      SELECT ({n}) AS n, ({s}) AS s, ({q}) AS q,
             ({ssb_terms}) - CAST(({s}) AS DOUBLE) * ({s}) / ({n}) AS ssb,
             CAST(({q}) AS DOUBLE) - ({ssb_terms}) AS ssw
      FROM piv
    )
    SELECT CAST(n AS BIGINT) AS n, ssb, ssw,
           (ssb / {k - 1}) / (ssw / (n - {k})) AS f_stat,
           ssb / (ssb + ssw) AS eta_squared
    FROM d
    """


@query("q323_oneway_anova", oracle=_anova_sql())
def q323_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA across the five order priorities — the k-group
    member of the inference suite (q144 Welch: 2 groups; q158 χ²:
    categorical; q297 MWU: rank-based): F = (SSB/(k−1))/(SSW/(n−k))
    with η² = SSB/SST as the effect size. Float-parity is the whole
    design: the per-group moments (n_i, Σx, Σx²) are exact integers
    PIVOTED into one row by literal group (a k-literal conditional
    aggregate — no GROUP BY, so no engine-dependent reduce order),
    and SSB/SSW then combine those integers in one fixed
    left-to-right expression both engines evaluate identically —
    the only way a Σ(double) over groups can hash-match (the q21
    lesson applied to variance decomposition). One scan, one
    combiner-friendly global aggregate; k more groups = 3k more
    columns, not more rows."""
    o = load(spark, sf_dir, "orders")
    m = o.select(
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("dollars"),
        "o_orderpriority",
    )
    aggs = []
    for i, g in enumerate(_ANOVA_GROUPS):
        cond = F.col("o_orderpriority") == g
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(cond, F.col("dollars")).otherwise(0))
            .cast("long")
            .alias(f"s{i}"),
            F.sum(F.when(cond, F.col("dollars") * F.col("dollars")).otherwise(0))
            .cast("long")
            .alias(f"q{i}"),
        ]
    piv = m.agg(*aggs)
    k = len(_ANOVA_GROUPS)
    n = " + ".join(f"n{i}" for i in range(k))
    s = " + ".join(f"s{i}" for i in range(k))
    q = " + ".join(f"q{i}" for i in range(k))
    ssb_terms = " + ".join(
        f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(k)
    )
    d = piv.selectExpr(
        f"({n}) AS n",
        f"({ssb_terms}) - CAST(({s}) AS DOUBLE) * ({s}) / ({n}) AS ssb",
        f"CAST(({q}) AS DOUBLE) - ({ssb_terms}) AS ssw",
    )
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "ssb",
        "ssw",
        f"(ssb / {k - 1}) / (ssw / (n - {k})) AS f_stat",
        "ssb / (ssb + ssw) AS eta_squared",
    )


@query(
    "q327_diff_in_diff",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    piv AS (
      SELECT CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN treated = 1 THEN pre ELSE 0 END) AS BIGINT) AS st_pre,
             CAST(SUM(CASE WHEN treated = 1 THEN post ELSE 0 END) AS BIGINT) AS st_post,
             CAST(SUM(CASE WHEN treated = 0 THEN pre ELSE 0 END) AS BIGINT) AS sc_pre,
             CAST(SUM(CASE WHEN treated = 0 THEN post ELSE 0 END) AS BIGINT) AS sc_post
      FROM per_user
    )
    SELECT nt, nc, st_pre, st_post, sc_pre, sc_post,
           (CAST(st_post AS DOUBLE) / nt - CAST(st_pre AS DOUBLE) / nt)
           - (CAST(sc_post AS DOUBLE) / nc - CAST(sc_pre AS DOUBLE) / nc)
             AS did_cents
    FROM piv
    """,
)
def q327_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the causal readout when you have a
    launch date and two groups but no perfect randomization: the
    treatment effect is the treated group's pre→post change MINUS the
    control group's (which absorbs the seasonal drift both groups
    share — the parallel-trends assumption q321's seasonal baseline
    exists to sanity-check). Completes the causal shelf: q253 builds
    matched controls, q316 shrinks variance with CUPED, q261 slices
    uplift, DiD handles the launch-day natural experiment. The four
    cell sums and two cohort sizes are exact integers pivoted into
    ONE row (the q323 fixed-order rule), so the double arithmetic of
    the final estimate runs in one engine-identical expression; the
    cells are also reported raw so any CI procedure can re-derive.
    One per-user shuffle + one global conditional aggregate."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit("2024-01-16").cast("date")
    treated = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        != 0
    ).cast("int")
    per_user = ev.groupBy("user_id").agg(
        F.first(treated).alias("treated"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.to_date("ts") < cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pre"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("post"),
    )
    piv = per_user.agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("pre")).otherwise(0))
        .cast("long").alias("st_pre"),
        F.sum(F.when(F.col("treated") == 1, F.col("post")).otherwise(0))
        .cast("long").alias("st_post"),
        F.sum(F.when(F.col("treated") == 0, F.col("pre")).otherwise(0))
        .cast("long").alias("sc_pre"),
        F.sum(F.when(F.col("treated") == 0, F.col("post")).otherwise(0))
        .cast("long").alias("sc_post"),
    )
    return piv.selectExpr(
        "CAST(nt AS BIGINT) AS nt",
        "CAST(nc AS BIGINT) AS nc",
        "CAST(st_pre AS BIGINT) AS st_pre",
        "CAST(st_post AS BIGINT) AS st_post",
        "CAST(sc_pre AS BIGINT) AS sc_pre",
        "CAST(sc_post AS BIGINT) AS sc_post",
        "(CAST(st_post AS DOUBLE) / nt - CAST(st_pre AS DOUBLE) / nt)"
        " - (CAST(sc_post AS DOUBLE) / nc - CAST(sc_pre AS DOUBLE) / nc)"
        " AS did_cents",
    )


def _posthoc_ssw_sql() -> str:
    k = len(_ANOVA_GROUPS)
    ssb_terms = " + ".join(f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(k))
    q = " + ".join(f"q{i}" for i in range(k))
    n = " + ".join(f"n{i}" for i in range(k))
    cols = []
    for i, g in enumerate(_ANOVA_GROUPS):
        cond = f"o_orderpriority = '{g}'"
        cols += [
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}",
            f"CAST(SUM(CASE WHEN {cond} THEN dollars ELSE 0 END) AS BIGINT) AS s{i}",
            f"CAST(SUM(CASE WHEN {cond} THEN dollars * dollars ELSE 0 END)"
            f" AS BIGINT) AS q{i}",
        ]
    return f"""
    WITH m AS (
      SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS dollars,
             o_orderpriority
      FROM orders
    ),
    piv AS (SELECT {", ".join(cols)} FROM m),
    pooled AS (
      SELECT (CAST(({q}) AS DOUBLE) - ({ssb_terms})) / (({n}) - {k}) AS msw
      FROM piv
    ),
    grp AS (
      SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dollars) AS BIGINT) AS s
      FROM m GROUP BY o_orderpriority
    )
    SELECT a.pri AS pri_a, b.pri AS pri_b, a.n AS n_a, b.n AS n_b,
           CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n AS mean_diff,
           sqrt(pooled.msw * (CAST(1 AS DOUBLE) / a.n + CAST(1 AS DOUBLE) / b.n))
             AS se,
           (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(pooled.msw * (CAST(1 AS DOUBLE) / a.n
                                  + CAST(1 AS DOUBLE) / b.n)) AS t_stat
    FROM grp a JOIN grp b ON a.pri < b.pri, pooled
    """


@query("q334_posthoc_pairwise", oracle=_posthoc_ssw_sql())
def q334_posthoc_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST-HOC PAIRWISE comparisons — the step after q323's ANOVA says
    "the groups differ": WHICH pairs differ, via the Fisher-LSD /
    Tukey-family statistic diff / sqrt(MSW·(1/n_i + 1/n_j)) with the
    POOLED within-group variance (pooling borrows strength from all
    five groups, so small groups get honest SEs — the reason this
    beats running C(5,2) Welch tests). MSW reuses q323's pivoted
    fixed-order computation verbatim (one row, engine-identical float
    order); the 10 pairs come from a self-join of the 5-row group-
    stats aggregate, each row's statistic a fixed expression over
    exact integers + one correctly-rounded sqrt. Consistency with
    q323 is property-tested: every pairwise t² is bounded by (k−1)·F
    only up to between-group structure, but sign and scale must
    agree with the raw means — checked directly."""
    o = load(spark, sf_dir, "orders")
    m = o.select(
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("long").alias("dollars"),
        "o_orderpriority",
    )
    aggs = []
    for i, g in enumerate(_ANOVA_GROUPS):
        cond = F.col("o_orderpriority") == g
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(cond, F.col("dollars")).otherwise(0))
            .cast("long").alias(f"s{i}"),
            F.sum(F.when(cond, F.col("dollars") * F.col("dollars")).otherwise(0))
            .cast("long").alias(f"q{i}"),
        ]
    piv = m.agg(*aggs)
    k = len(_ANOVA_GROUPS)
    nn = " + ".join(f"n{i}" for i in range(k))
    qq = " + ".join(f"q{i}" for i in range(k))
    ssb_terms = " + ".join(f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(k))
    pooled = piv.selectExpr(
        f"(CAST(({qq}) AS DOUBLE) - ({ssb_terms})) / (({nn}) - {k}) AS msw"
    )
    grp = m.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dollars").cast("long").alias("s"),
    )
    a = grp.select(
        F.col("pri").alias("pri_a"), F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    b = grp.select(
        F.col("pri").alias("pri_b"), F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    pairs = (
        a.join(b, F.col("pri_a") < F.col("pri_b"))
        .crossJoin(F.broadcast(pooled))
    )
    return pairs.selectExpr(
        "pri_a",
        "pri_b",
        "CAST(n_a AS BIGINT) AS n_a",
        "CAST(n_b AS BIGINT) AS n_b",
        "CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS mean_diff",
        "sqrt(msw * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS se",
        "(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
        " / sqrt(msw * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))"
        " AS t_stat",
    )


# Literal decision-stump "model": predict event type from the value alone.
_STUMP_SQL = """CASE WHEN value < 5 THEN 'click'
                     WHEN value < 20 THEN 'view'
                     WHEN value < 60 THEN 'error'
                     WHEN value < 150 THEN 'signup'
                     ELSE 'purchase' END"""


@query(
    "q339_multiclass_eval",
    oracle=f"""
    WITH scored AS (
      SELECT event_type AS actual, {_STUMP_SQL} AS pred FROM events
    )
    SELECT c.cls,
           CAST(SUM(CASE WHEN actual = c.cls AND pred = c.cls
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN actual <> c.cls AND pred = c.cls
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN actual = c.cls AND pred <> c.cls
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN actual = c.cls AND pred = c.cls
                         THEN 1 ELSE 0 END) * 2000000
                // GREATEST(2 * SUM(CASE WHEN actual = c.cls AND pred = c.cls
                                         THEN 1 ELSE 0 END)
                   + SUM(CASE WHEN actual <> c.cls AND pred = c.cls
                              THEN 1 ELSE 0 END)
                   + SUM(CASE WHEN actual = c.cls AND pred <> c.cls
                              THEN 1 ELSE 0 END), 1) AS BIGINT) AS f1_ppm
    FROM scored, (SELECT DISTINCT event_type AS cls FROM events) c
    GROUP BY c.cls
    """,
)
def q339_multiclass_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTICLASS EVALUATION — per-class TP/FP/FN and F1 for a k-way
    classifier (here a literal value-threshold stump both engines
    share; in production the predictions column of a scored table):
    the k-class generalization of q189's binary confusion matrix, and
    the report card behind every "macro-F1" claim. F1 needs NO floats:
    F1 = 2TP/(2TP + FP + FN) exactly, emitted as ppm floor division —
    the harmonic mean collapses algebraically, one of the few ML
    metrics that is a pure integer ratio (the reason it's the
    house-preferred headline metric over precision/recall pairs).
    Plan: one scan computes (actual, pred), a small cross join against
    the k-row class list turns per-class one-vs-rest counts into
    conditional sums — k passes' worth of metrics in ONE aggregate,
    no per-class filtering jobs. Macro-F1 = mean of the f1_ppm column
    (exact integers, so the average is safe anywhere downstream)."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.col("event_type").alias("actual"), F.expr(_STUMP_SQL).alias("pred")
    )
    classes = ev.select(F.col("event_type").alias("cls")).distinct()
    j = scored.crossJoin(F.broadcast(classes))
    tp = F.sum(
        F.when((F.col("actual") == F.col("cls")) & (F.col("pred") == F.col("cls")), 1)
        .otherwise(0)
    )
    fp = F.sum(
        F.when((F.col("actual") != F.col("cls")) & (F.col("pred") == F.col("cls")), 1)
        .otherwise(0)
    )
    fn = F.sum(
        F.when((F.col("actual") == F.col("cls")) & (F.col("pred") != F.col("cls")), 1)
        .otherwise(0)
    )
    return (
        j.groupBy("cls")
        .agg(
            tp.cast("bigint").alias("tp"),
            fp.cast("bigint").alias("fp"),
            fn.cast("bigint").alias("fn"),
        )
        .selectExpr(
            "cls",
            "tp",
            "fp",
            "fn",
            "CAST(tp * 2000000 DIV GREATEST(2 * tp + fp + fn, 1) AS BIGINT)"
            " AS f1_ppm",
        )
    )


MDE_TARGET_CENTS = 500  # effect size the team wants to detect
Z_ALPHA, Z_BETA = 1.96, 0.84  # 5% two-sided, 80% power


@query(
    "q341_power_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM per_user
    )
    SELECT n, sx, sxx,
           (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             / (CAST(n AS DOUBLE) * (n - 1)) AS variance,
           ({Z_ALPHA} + {Z_BETA})
             * sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    / (CAST(n AS DOUBLE) * (n - 1))
                    * (2.0 / (n // 2) + 2.0 / (n - n // 2))) / 1.0 AS mde_cents,
           CAST(ceil(2.0 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    / (CAST(n AS DOUBLE) * (n - 1)))
                    * ({Z_ALPHA} + {Z_BETA}) * ({Z_ALPHA} + {Z_BETA})
                    / ({MDE_TARGET_CENTS}.0 * {MDE_TARGET_CENTS}))
             AS BIGINT) AS n_per_arm_for_target
    FROM mom
    """,
)
def q341_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B POWER PLANNER — the question asked BEFORE q219/q274/q316 ever
    run: with the metric's observed variance, (a) what's the minimum
    detectable effect at the CURRENT population split in half, and
    (b) how many users per arm would a 500-cent effect
    need? Textbook normal-approximation power algebra —
    MDE = (z_α/2+z_β)·σ·sqrt(1/n₁+1/n₂) and
    n = 2σ²(z_α/2+z_β)²/Δ² — with the variance built from exact
    integer moments (n·Σx² − (Σx)², the q23 rule) and every float
    step a fixed literal expression (z-values are constants; sqrt is
    the IEEE-exempt transcendental). Experimentation platforms burn
    real money running underpowered tests; this one-row report over a
    per-user rollup is the guardrail, and re-running it per segment
    is a groupBy away. The raw moments ship in the row so a different
    α/β re-plans without rescanning."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    za_zb = Z_ALPHA + Z_BETA
    return mom.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(sx AS BIGINT) AS sx",
        "CAST(sxx AS BIGINT) AS sxx",
        "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS variance",
        f"({za_zb}) * sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * (n - 1))"
        " * (2.0 / (n DIV 2) + 2.0 / (n - n DIV 2))) / 1.0 AS mde_cents",
        f"CAST(ceil(2.0 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * (n - 1)))"
        f" * ({za_zb}) * ({za_zb})"
        f" / ({MDE_TARGET_CENTS}.0 * {MDE_TARGET_CENTS})) AS BIGINT)"
        " AS n_per_arm_for_target",
    )


ISO_BIN_DIV = 20  # score bin = floor(value / 20)


@query(
    "q342_isotonic_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(floor(value / {ISO_BIN_DIV}) AS BIGINT) AS b,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    bins AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY b
    ),
    intervals AS (
      SELECT k.b AS k, j.b AS j,
             CAST(SUM(m.pos) AS BIGINT) AS ipos,
             CAST(SUM(m.n) AS BIGINT) AS inn
      FROM bins k JOIN bins j ON k.b <= j.b
      JOIN bins m ON m.b BETWEEN k.b AND j.b
      GROUP BY k.b, j.b
    ),
    minin AS (
      SELECT i.b AS i, iv.k,
             MIN(CAST(iv.ipos AS DOUBLE) / iv.inn) AS min_avg
      FROM bins i JOIN intervals iv ON iv.k <= i.b AND iv.j >= i.b
      GROUP BY i.b, iv.k
    )
    SELECT m.i AS bin, bb.n, bb.pos,
           CAST(bb.pos AS DOUBLE) / bb.n AS rate_raw,
           MAX(m.min_avg) AS rate_iso
    FROM minin m JOIN bins bb ON bb.b = m.i
    GROUP BY m.i, bb.n, bb.pos
    """,
)
def q342_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION (PAVA) for probability calibration — the
    standard post-hoc calibrator (sklearn's IsotonicRegression behind
    CalibratedClassifierCV): fit the best MONOTONE step function of
    purchase rate over score bins. The sequential pool-adjacent-
    violators loop doesn't distribute — but its fixed point has the
    CLOSED FORM iso_i = max_{{k<=i}} min_{{j>=i}} avg(k..j) (the
    max-min theorem), and THAT is two bounded joins over the bin
    table + a min and a max — fully declarative, no loop, no state.
    The property test runs an independent textbook PAVA in Python and
    asserts equality: like q330, the oracle match certifies a
    THEOREM, not a shared implementation. Interval averages are one
    division each off exact integer prefix sums; bins are bounded
    (score support / 20), so the k<=i<=j lattice is
    bins³ — trivial beside the single scan that builds the bins. The
    calibrated rate_iso is what q263's ECE should be measured
    AGAINST after calibration."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.expr(f"CAST(floor(value / {ISO_BIN_DIV}) AS BIGINT)").alias("b"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    k = bins.select(F.col("b").alias("k"))
    j = bins.select(F.col("b").alias("j"))
    m = bins.select(F.col("b").alias("mb"), "n", "pos")
    intervals = (
        k.join(j, F.col("k") <= F.col("j"))
        .join(m, (F.col("mb") >= F.col("k")) & (F.col("mb") <= F.col("j")))
        .groupBy("k", "j")
        .agg(
            F.sum("pos").cast("long").alias("ipos"),
            F.sum("n").cast("long").alias("inn"),
        )
    )
    i = bins.select(F.col("b").alias("i"), F.col("n").alias("bn"), F.col("pos").alias("bpos"))
    minin = (
        i.join(intervals, (F.col("k") <= F.col("i")) & (F.col("j") >= F.col("i")))
        .groupBy("i", "bn", "bpos", "k")
        .agg(F.min(F.col("ipos").cast("double") / F.col("inn")).alias("min_avg"))
    )
    return minin.groupBy(
        F.col("i").alias("bin"),
        F.col("bn").alias("n"),
        F.col("bpos").alias("pos"),
    ).agg(F.max("min_avg").alias("rate_iso")).select(
        "bin",
        "n",
        "pos",
        (F.col("pos").cast("double") / F.col("n")).alias("rate_raw"),
        "rate_iso",
    )


@query(
    "q347_simpson_guard",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'purchase'
                  AND CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN 1 ELSE 0 END) AS converted,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS treated
      FROM events GROUP BY user_id
    ),
    tiered AS (
      SELECT treated, converted,
             (ROW_NUMBER() OVER (ORDER BY n_events, user_id) - 1) * 3
               // COUNT(*) OVER () AS stratum
      FROM per_user
    ),
    cells AS (
      SELECT CAST(stratum AS VARCHAR) AS stratum,
             CAST(SUM(treated) AS BIGINT) AS n1,
             CAST(SUM(treated * converted) AS BIGINT) AS c1,
             CAST(SUM(1 - treated) AS BIGINT) AS n0,
             CAST(SUM((1 - treated) * converted) AS BIGINT) AS c0
      FROM tiered GROUP BY stratum
      UNION ALL
      SELECT 'ALL',
             CAST(SUM(treated) AS BIGINT),
             CAST(SUM(treated * converted) AS BIGINT),
             CAST(SUM(1 - treated) AS BIGINT),
             CAST(SUM((1 - treated) * converted) AS BIGINT)
      FROM tiered
    ),
    pooled AS (
      SELECT CASE WHEN c1 * n0 > c0 * n1 THEN 1
                  WHEN c1 * n0 < c0 * n1 THEN -1 ELSE 0 END AS pooled_dir
      FROM cells WHERE stratum = 'ALL'
    )
    SELECT c.stratum, c.n1, c.c1, c.n0, c.c0,
           CASE WHEN c.c1 * c.n0 > c.c0 * c.n1 THEN 1
                WHEN c.c1 * c.n0 < c.c0 * c.n1 THEN -1 ELSE 0 END AS direction,
           (CASE WHEN c.c1 * c.n0 > c.c0 * c.n1 THEN 1
                 WHEN c.c1 * c.n0 < c.c0 * c.n1 THEN -1 ELSE 0 END)
             <> p.pooled_dir AS disagrees_with_pooled
    FROM cells c, pooled p
    """,
)
def q347_simpson_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX GUARD — the sanity row every pooled experiment
    readout should ship with: the treatment-vs-control conversion
    DIRECTION per activity stratum (rank-tercile on event volume, the
    q171/q338 exact-rank rule) next to the pooled direction, with a
    disagreement flag. When strata disagree with the pool, the pooled
    number is confounded by the stratum mix (the UC-Berkeley
    admissions case, and in experiments: a treatment that shifts WHO
    shows up) — q327's DiD and q316's CUPED both silently assume this
    flag is false. Directions are sign(c1·n0 − c0·n1): exact integer
    cross-multiplication, so no rate is ever floated and a tie is an
    honest 0, not a rounding artifact. One per-user rollup, one rank
    pass over the user aggregate, a 4-cell conditional sum per
    stratum + pooled."""
    ev = load(spark, sf_dir, "events")
    treated = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        != 0
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= F.lit("2024-01-16").cast("date")),
                1,
            ).otherwise(0)
        ).alias("converted"),
        F.first(treated).alias("treated"),
    )
    # |users|-row rollup feeding four consumers (count, two row-id
    # branches, the cell sums) — without a checkpoint each re-executed
    # the fact scan underneath (14 scans, r11 fact-rescan audit)
    per_user = per_user.localCheckpoint(eager=False)
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    n_tot = per_user.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    # r10 global-window audit: the tercile rank runs as the
    # range-partitioned row-id form, not a single-reducer window over
    # the user-proportional aggregate
    tiered = (
        stable_row_ids(per_user, ["n_events", "user_id"], id_col="rnk", start=1)
        .crossJoin(F.broadcast(n_tot))
        .select(
            "treated",
            "converted",
            F.expr("(rnk - 1) * 3 DIV nn").cast("string").alias("stratum"),
        )
    )
    def cells(df):
        return df.agg(
            F.sum("treated").cast("long").alias("n1"),
            F.sum(F.col("treated") * F.col("converted")).cast("long").alias("c1"),
            F.sum(1 - F.col("treated")).cast("long").alias("n0"),
            F.sum((1 - F.col("treated")) * F.col("converted"))
            .cast("long")
            .alias("c0"),
        )

    strata = cells(tiered.groupBy("stratum"))
    pooled_cells = cells(tiered.groupBy()).withColumn("stratum", F.lit("ALL"))
    # 4-row cell table read twice (direction rows + the pooled-direction
    # branch) — checkpoint so the rank pipeline above runs once
    allc = strata.unionByName(
        pooled_cells.select(*strata.columns)
    ).localCheckpoint(eager=False)
    direction = (
        F.when(F.col("c1") * F.col("n0") > F.col("c0") * F.col("n1"), 1)
        .when(F.col("c1") * F.col("n0") < F.col("c0") * F.col("n1"), -1)
        .otherwise(0)
    )
    with_dir = allc.withColumn("direction", direction)
    pooled_dir = with_dir.filter(F.col("stratum") == "ALL").select(
        F.col("direction").alias("pooled_dir")
    )
    return with_dir.crossJoin(F.broadcast(pooled_dir)).select(
        "stratum",
        F.col("n1").cast("bigint"),
        F.col("c1").cast("bigint"),
        F.col("n0").cast("bigint"),
        F.col("c0").cast("bigint"),
        F.col("direction").cast("int").alias("direction"),
        (F.col("direction") != F.col("pooled_dir")).alias(
            "disagrees_with_pooled"
        ),
    )


@query(
    "q348_quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT arm, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM per_user GROUP BY arm, x
    ),
    cum AS (
      SELECT arm, x,
             SUM(cnt) OVER (PARTITION BY arm ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY arm) AS n
      FROM hist
    ),
    qs AS (
      SELECT arm,
             MIN(CASE WHEN c >= (n + 3) // 4 THEN x END) AS p25,
             MIN(CASE WHEN c >= (n + 1) // 2 THEN x END) AS p50,
             MIN(CASE WHEN c >= (3 * n + 3) // 4 THEN x END) AS p75
      FROM cum GROUP BY arm
    ),
    piv AS (
      SELECT MAX(CASE WHEN arm = 'treatment' THEN p25 END) AS t25,
             MAX(CASE WHEN arm = 'treatment' THEN p50 END) AS t50,
             MAX(CASE WHEN arm = 'treatment' THEN p75 END) AS t75,
             MAX(CASE WHEN arm = 'control' THEN p25 END) AS c25,
             MAX(CASE WHEN arm = 'control' THEN p50 END) AS c50,
             MAX(CASE WHEN arm = 'control' THEN p75 END) AS c75
      FROM qs
    )
    SELECT q.p, q.q_treat, q.q_control,
           CAST(q.q_treat - q.q_control AS BIGINT) AS qte_cents
    FROM piv, LATERAL (VALUES
      ('p25', t25, c25), ('p50', t50, c50), ('p75', t75, c75)
    ) AS q(p, q_treat, q_control)
    """,
)
def q348_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE TREATMENT EFFECTS — means (q327/q316) hide WHERE an
    effect lives: a treatment that only moves whales shifts p75 and
    not p25, one that activates non-buyers moves p25 and not p75. QTE
    at each quartile is the treated quantile minus the control
    quantile — exact ceil-rank selects over per-arm value histograms
    (q93's machinery partitioned by arm; no interpolation, so the
    effect is a difference of actual observed values, in integer
    cents). The pivot to one row (q323's rule) then unpivots to the
    three-row report — both engines fold the same literal lattice.
    This is the distributional half of the causal shelf: q261 slices
    uplift by SCORE decile; this slices the effect by OUTCOME
    quantile. One per-user rollup + bounded histogram passes."""
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.first(arm).alias("arm"),
    )
    hist = per_user.groupBy("arm", "x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "arm",
        "x",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(Window.partitionBy("arm")).alias("n"),
    )
    qs = cum.groupBy("arm").agg(
        F.min(F.when(F.col("c") >= F.expr("(n + 3) DIV 4"), F.col("x"))).alias("p25"),
        F.min(F.when(F.col("c") >= F.expr("(n + 1) DIV 2"), F.col("x"))).alias("p50"),
        F.min(F.when(F.col("c") >= F.expr("(3 * n + 3) DIV 4"), F.col("x"))).alias("p75"),
    )
    piv = qs.groupBy().agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(p))).alias(f"{a[0]}{p[1:]}")
            for a in ("treatment", "control")
            for p in ("p25", "p50", "p75")
        ]
    )
    unpivoted = piv.selectExpr(
        "stack(3, 'p25', t25, c25, 'p50', t50, c50, 'p75', t75, c75)"
        " AS (p, q_treat, q_control)"
    )
    return unpivoted.select(
        "p",
        F.col("q_treat").cast("bigint").alias("q_treat"),
        F.col("q_control").cast("bigint").alias("q_control"),
        (F.col("q_treat") - F.col("q_control")).cast("bigint").alias("qte_cents"),
    )


T2_THRESHOLD = 9.21  # chi-square(2 df) 99% critical value


@query(
    "q349_hotelling_t2",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM daily
    ),
    cov AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cxx,
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cyy,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * (n - 1)) AS cxy
      FROM mom
    )
    SELECT d.d, d.x, d.y,
           ((d.x - c.mx) * (d.x - c.mx) * c.cyy
            - 2 * (d.x - c.mx) * (d.y - c.my) * c.cxy
            + (d.y - c.my) * (d.y - c.my) * c.cxx)
             / (c.cxx * c.cyy - c.cxy * c.cxy) AS t2,
           ((d.x - c.mx) * (d.x - c.mx) * c.cyy
            - 2 * (d.x - c.mx) * (d.y - c.my) * c.cxy
            + (d.y - c.my) * (d.y - c.my) * c.cxx)
             / (c.cxx * c.cyy - c.cxy * c.cxy) > {T2_THRESHOLD} AS is_anomaly
    FROM daily d, cov c
    """,
)
def q349_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOTELLING T² control chart — MULTIVARIATE anomaly detection the
    univariate shelf (q27 z-scores, q127 MAD, q159 seasonal) cannot
    do: a day whose click revenue and purchase revenue are each
    individually normal but JOINTLY inconsistent (high clicks, dead
    purchases — a broken checkout) lights up only under the
    covariance-aware distance T² = d'S⁻¹d. With two metrics the 2x2
    inverse is the closed adjugate form — no linear algebra library,
    just the determinant denominator — so the whole chart is exact
    integer moments (one q323-style one-row reduction) + fixed-order
    float arithmetic per day, flagged against the chi-square(2) 99%
    line. Per-service charts = the same expression under a groupBy;
    p metrics means p(p+1)/2 moment columns, closed-form inverses up
    to 3x3, then a solver. Property-tested: T² >= 0, mean T² ~= p,
    and the marginally-normal-jointly-weird day construction is
    caught."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    cov = mom.selectExpr(
        "n",
        "CAST(sx AS DOUBLE) / n AS mx",
        "CAST(sy AS DOUBLE) / n AS my",
        "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS cxx",
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS cyy",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS cxy",
    )
    t2_expr = (
        "((x - mx) * (x - mx) * cyy - 2 * (x - mx) * (y - my) * cxy"
        " + (y - my) * (y - my) * cxx) / (cxx * cyy - cxy * cxy)"
    )
    return daily.crossJoin(F.broadcast(cov)).selectExpr(
        "d",
        "x",
        "y",
        f"{t2_expr} AS t2",
        f"{t2_expr} > {T2_THRESHOLD} AS is_anomaly",
    )


EB_PSEUDO_N = 50  # shrinkage prior strength (pseudo-observations)


@query(
    "q355_eb_shrinkage",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    g AS (
      SELECT CAST(SUM(r) AS BIGINT) AS gr, CAST(SUM(n) AS BIGINT) AS gn
      FROM per_part
    )
    SELECT p.l_partkey, p.n, p.r,
           CAST(p.r AS DOUBLE) / p.n AS raw_rate,
           (CAST(p.r AS DOUBLE) + {EB_PSEUDO_N} * CAST(g.gr AS DOUBLE) / g.gn)
             / (p.n + {EB_PSEUDO_N}) AS shrunk_rate,
           CAST(g.gr AS DOUBLE) / g.gn AS global_rate
    FROM per_part p, g
    """,
)
def q355_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES SHRINKAGE — the fix for every leaderboard ranked
    by raw rates: a part returned 2-of-3 times is NOT worse than one
    returned 300-of-1000; shrink each part's return rate toward the
    global rate with 50 pseudo-observations
    ((r + m·p₀)/(n + m), the Beta-Binomial posterior mean — the same
    smoothing q234's Kneser-Ney applies to n-grams and ad systems
    apply to CTRs). Small-n parts collapse to the prior, large-n
    parts keep their data; ranking by shrunk_rate is what "top
    defective parts" dashboards should sort by. Raw integer counts
    ship alongside so m can be re-tuned downstream without a rescan;
    the two divisions are fixed-order floats off exact integers.
    One grouped count + a broadcast 1-row global prior."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    g = per_part.agg(
        F.sum("r").cast("long").alias("gr"), F.sum("n").cast("long").alias("gn")
    )
    return per_part.crossJoin(F.broadcast(g)).selectExpr(
        "l_partkey",
        "n",
        "r",
        "CAST(r AS DOUBLE) / n AS raw_rate",
        f"(CAST(r AS DOUBLE) + {EB_PSEUDO_N} * CAST(gr AS DOUBLE) / gn)"
        f" / (n + {EB_PSEUDO_N}) AS shrunk_rate",
        "CAST(gr AS DOUBLE) / gn AS global_rate",
    )


@query(
    "q357_mediation_analysis",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS a,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS m,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(a * m) AS BIGINT) AS sam,
             CAST(SUM(a * y) AS BIGINT) AS say,
             CAST(SUM(m * y) AS BIGINT) AS smy,
             CAST(SUM(m * m) AS BIGINT) AS smm
      FROM per_user
    ),
    c AS (
      SELECT n,
             CAST(n AS DOUBLE) * sam - CAST(sa AS DOUBLE) * sm AS cam,
             CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy AS cay,
             CAST(n AS DOUBLE) * smy - CAST(sm AS DOUBLE) * sy AS cmy,
             CAST(n AS DOUBLE) * sa - CAST(sa AS DOUBLE) * sa AS vaa,
             CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm AS vmm
      FROM mom
    )
    SELECT n,
           cam / vaa AS alpha,
           (cmy * vaa - cay * cam) / (vmm * vaa - cam * cam) AS beta_m,
           (cay * vmm - cmy * cam) / (vmm * vaa - cam * cam) AS direct_effect,
           (cam / vaa) * ((cmy * vaa - cay * cam) / (vmm * vaa - cam * cam))
             AS indirect_effect,
           cay / vaa AS total_effect
    FROM c
    """,
)
def q357_mediation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIATION ANALYSIS (Baron-Kenny / product-of-coefficients) — the
    causal decomposition q327's DiD can't give: HOW does treatment
    move revenue? Through the mediator (a → more clicks → more
    purchases, the indirect path α·β_m) or directly (a → purchases
    holding clicks fixed, β_a)? The two-regressor OLS solves in
    closed 2x2 form (determinant denominator — q349's adjugate trick
    on the normal equations), every covariance an exact integer
    cross-product (q23's rule), every division a fixed-order float.
    The OLS identity TOTAL = DIRECT + INDIRECT holds exactly in this
    closed form — property-tested to 1e-9, which simultaneously
    certifies all three estimates. The caveat a docstring must carry:
    mediator-outcome confounding biases β_m — this is the
    descriptive decomposition, the sensitivity analysis is the
    analyst's job. One per-user rollup + one 8-moment reduction."""
    ev = load(spark, sf_dir, "events")
    a = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        != 0
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.first(a).alias("a"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("m").cast("long").alias("sm"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("a") * F.col("m")).cast("long").alias("sam"),
        F.sum(F.col("a") * F.col("y")).cast("long").alias("say"),
        F.sum(F.col("m") * F.col("y")).cast("long").alias("smy"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
    )
    c = mom.selectExpr(
        "n",
        "CAST(n AS DOUBLE) * sam - CAST(sa AS DOUBLE) * sm AS cam",
        "CAST(n AS DOUBLE) * say - CAST(sa AS DOUBLE) * sy AS cay",
        "CAST(n AS DOUBLE) * smy - CAST(sm AS DOUBLE) * sy AS cmy",
        "CAST(n AS DOUBLE) * sa - CAST(sa AS DOUBLE) * sa AS vaa",
        "CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm AS vmm",
    )
    return c.selectExpr(
        "n",
        "cam / vaa AS alpha",
        "(cmy * vaa - cay * cam) / (vmm * vaa - cam * cam) AS beta_m",
        "(cay * vmm - cmy * cam) / (vmm * vaa - cam * cam) AS direct_effect",
        "(cam / vaa) * ((cmy * vaa - cay * cam) / (vmm * vaa - cam * cam))"
        " AS indirect_effect",
        "cay / vaa AS total_effect",
    )


WILSON_Z2_X100 = 384  # z²·100 for z = 1.96 (3.8416 -> 384/100)


@query(
    "q361_wilson_lower_bound",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey
      HAVING COUNT(*) >= 20
    ),
    w AS (
      SELECT l_partkey, n, r,
             CAST(r AS DOUBLE) / n AS p,
             {WILSON_Z2_X100} / 100.0 AS z2
      FROM per_part
    )
    SELECT l_partkey, n, r, p AS raw_rate,
           (p + z2 / (2 * n)
            - sqrt(z2) * sqrt((p * (1 - p) + z2 / (4 * n)) / n))
             / (1 + z2 / n) AS wilson_lower
    FROM w
    ORDER BY (p + z2 / (2 * n)
            - sqrt(z2) * sqrt((p * (1 - p) + z2 / (4 * n)) / n))
             / (1 + z2 / n) DESC, l_partkey
    LIMIT 50
    """,
)
def q361_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON LOWER BOUND ranking — "how not to sort by average rating"
    (Reddit's comment sort, every review ranking done right): order
    items by the LOWER edge of the Wilson score interval, so a 3/3
    part can't outrank a 95/100 part — the small-sample humility that
    raw rates (and even q355's point shrinkage) don't encode in the
    ORDERING. The Wilson form (p + z²/2n ± z·sqrt(...))/(1 + z²/n)
    is pure fixed-order float algebra off exact integer (r, n) with
    the IEEE-exempt sqrt; z² enters as the literal 384/100
    so both engines fold the same constant. A min-support HAVING
    keeps degenerate tiny denominators out of the leaderboard
    (Wilson handles them correctly but a 1-observation item is still
    noise). Top-50 by TakeOrdered; the property test checks the
    bound is below the raw rate, tightens with n, and actually
    reorders some pair that raw rates would rank the other way."""
    li = load(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("r"),
        )
        .filter(F.col("n") >= 20)
    )
    z2 = WILSON_Z2_X100 / 100.0
    # CAST matters: a bare 3.84 literal parses as DECIMAL in Spark SQL
    # (DOUBLE in DuckDB) and the decimal arithmetic rounds differently.
    w = per_part.selectExpr(
        "l_partkey", "n", "r", "CAST(r AS DOUBLE) / n AS p",
        f"CAST({z2} AS DOUBLE) AS z2",
    )
    wilson = (
        "(p + z2 / (2 * n) - sqrt(z2) * sqrt((p * (1 - p) + z2 / (4 * n)) / n))"
        " / (1 + z2 / n)"
    )
    return (
        w.selectExpr(
            "l_partkey", "n", "r", "p AS raw_rate", f"{wilson} AS wilson_lower"
        )
        .orderBy(F.col("wilson_lower").desc(), "l_partkey")
        .limit(50)
    )


PERM_B = 64  # derandomized label reshuffles


@query(
    "q362_randomization_test",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase'
                  AND CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    fan AS (
      SELECT u.user_id, u.y, b.b,
             CASE WHEN b.b = 0 THEN
               CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2
             ELSE
               CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                    || ':perm:' || CAST(b.b AS VARCHAR)), 1, 8) AS BIGINT) % 2
             END AS t
      FROM per_user u,
           (SELECT UNNEST(generate_series(0, {PERM_B})) AS b) b
    ),
    diffs AS (
      SELECT b,
             CAST(SUM(t * y) AS DOUBLE) / SUM(t)
             - CAST(SUM((1 - t) * y) AS DOUBLE) / SUM(1 - t) AS diff
      FROM fan GROUP BY b
    ),
    obs AS (SELECT diff AS obs_diff FROM diffs WHERE b = 0)
    SELECT o.obs_diff,
           CAST({PERM_B} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN d.b > 0 AND abs(d.diff) >= abs(o.obs_diff)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST((1 + SUM(CASE WHEN d.b > 0
                              AND abs(d.diff) >= abs(o.obs_diff)
                         THEN 1 ELSE 0 END)) * 1000000
                // ({PERM_B} + 1) AS BIGINT) AS p_value_ppm
    FROM diffs d, obs o GROUP BY o.obs_diff
    """,
)
def q362_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZATION (permutation) TEST — inference with no normality,
    no variance formula, no asymptotics: re-assign treatment labels
    64 times, recompute the arm difference each time, and the
    p-value is the rank of the observed difference in its own null
    (the +1/(B+1) form that keeps the test exact-level). The
    re-assignments are md5(user:perm:b) coins — the q354 hash-coin
    derandomization, so every engine, run, and partitioning sees the
    SAME null distribution (production permutation tests seed per
    permutation index for exactly this replay property). Plan shape
    is the q172 bootstrap: explode users x (B+1) labelings, ONE
    map-side-combining aggregate over (b), a B-row reduction — the
    entire test is two shuffles regardless of B. b = 0 carries the
    real assignment, so observed and null share one code path.
    Property-tested: the real-assignment diff equals q327's cells,
    and a planted strong effect drives p to the 1/(B+1) floor."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= F.lit("2024-01-16").cast("date")),
                1,
            ).otherwise(0)
        ).alias("y")
    )
    fan = per_user.select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_B))).alias("b"),
    ).select(
        "y",
        "b",
        F.when(
            F.col("b") == 0,
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2,
        )
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":perm:"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        )
        .alias("t"),
    )
    diffs = fan.groupBy("b").agg(
        F.sum(F.col("t") * F.col("y")).cast("long").alias("c1"),
        F.sum("t").cast("long").alias("n1"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("c0"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
    ).selectExpr(
        "b",
        "CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0 AS diff",
    )
    obs = diffs.filter(F.col("b") == 0).select(
        F.col("diff").alias("obs_diff")
    )
    j = diffs.crossJoin(F.broadcast(obs))
    return j.groupBy("obs_diff").agg(
        F.lit(PERM_B).cast("bigint").alias("n_perms"),
        F.sum(
            F.when(
                (F.col("b") > 0)
                & (F.abs(F.col("diff")) >= F.abs(F.col("obs_diff"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
        F.expr(
            f"CAST((1 + SUM(CASE WHEN b > 0 AND abs(diff) >= abs(obs_diff)"
            f" THEN 1 ELSE 0 END)) * 1000000 DIV ({PERM_B} + 1) AS BIGINT)"
        ).alias("p_value_ppm"),
    )


# Three deterministic "raters": correlated value-threshold stumps.
_FLEISS_RATERS_SQL = [
    "CASE WHEN value >= 150 THEN 1 ELSE 0 END",
    "CASE WHEN value >= 140 THEN 1 ELSE 0 END",
    "CASE WHEN value >= 160 THEN 1 ELSE 0 END",
]


@query(
    "q364_fleiss_kappa",
    oracle=f"""
    WITH rated AS (
      SELECT ({_FLEISS_RATERS_SQL[0]}) + ({_FLEISS_RATERS_SQL[1]})
             + ({_FLEISS_RATERS_SQL[2]}) AS k1
      FROM events
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k1) AS BIGINT) AS tot1,
             CAST(SUM(k1 * k1 + (3 - k1) * (3 - k1)) AS BIGINT) AS sq
      FROM rated
    )
    SELECT n, tot1, sq,
           (CAST(sq AS DOUBLE) - 3 * n) / (n * 6) AS p_bar,
           (CAST(tot1 AS DOUBLE) / (3 * n)) * (CAST(tot1 AS DOUBLE) / (3 * n))
           + (1 - CAST(tot1 AS DOUBLE) / (3 * n))
             * (1 - CAST(tot1 AS DOUBLE) / (3 * n)) AS p_e,
           ((CAST(sq AS DOUBLE) - 3 * n) / (n * 6)
            - ((CAST(tot1 AS DOUBLE) / (3 * n))
               * (CAST(tot1 AS DOUBLE) / (3 * n))
               + (1 - CAST(tot1 AS DOUBLE) / (3 * n))
                 * (1 - CAST(tot1 AS DOUBLE) / (3 * n))))
           / (1 - ((CAST(tot1 AS DOUBLE) / (3 * n))
                   * (CAST(tot1 AS DOUBLE) / (3 * n))
                   + (1 - CAST(tot1 AS DOUBLE) / (3 * n))
                     * (1 - CAST(tot1 AS DOUBLE) / (3 * n)))) AS fleiss_kappa
    FROM sums
    """,
)
def q364_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' KAPPA — inter-annotator agreement for MORE than two
    raters (q255's Cohen handles exactly two): three deterministic
    threshold "raters" label every event, per-item agreement is
    P_i = (Σ_j n_ij² − m)/(m(m−1)) — with m=3 and two categories the
    per-item state collapses to ONE integer (how many raters said
    yes), so the whole statistic reduces to two global integer sums
    (Σk and Σ[k² + (3−k)²]) — a labeling-QA metric over a billion
    items in one combiner-friendly aggregate, no per-rater-pair
    joins. Chance agreement uses pooled category prevalences; kappa
    assembles in one fixed-order float expression (raw integer sums
    reported for re-blending across annotation batches). The
    property test recomputes kappa from an independent per-item
    Python pass and checks the near-threshold raters agree less
    than chance would on extreme items — the reason kappa, not raw
    agreement, is the metric."""
    ev = load(spark, sf_dir, "events")
    k1 = sum(
        (F.expr(r).cast("long") for r in _FLEISS_RATERS_SQL),
        F.lit(0).cast("long"),
    )
    rated = ev.select(k1.alias("k1"))
    sums = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k1").cast("long").alias("tot1"),
        F.sum(F.col("k1") * F.col("k1") + (3 - F.col("k1")) * (3 - F.col("k1")))
        .cast("long")
        .alias("sq"),
    )
    p1 = "CAST(tot1 AS DOUBLE) / (3 * n)"
    p_e = f"({p1}) * ({p1}) + (1 - {p1}) * (1 - {p1})"
    p_bar = "(CAST(sq AS DOUBLE) - 3 * n) / (n * 6)"
    return sums.selectExpr(
        "n",
        "tot1",
        "sq",
        f"{p_bar} AS p_bar",
        f"{p_e} AS p_e",
        f"(({p_bar}) - ({p_e})) / (1 - ({p_e})) AS fleiss_kappa",
    )


@query(
    "q365_covariate_balance",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS t,
             CAST(COUNT(*) AS BIGINT) AS x_events,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x_clicks,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS x_days
      FROM events GROUP BY user_id
    ),
    long AS (
      SELECT t, cov, x FROM per_user,
        LATERAL (VALUES ('n_events', x_events), ('click_cents', x_clicks),
                        ('active_days', x_days)) AS v(cov, x)
    ),
    mom AS (
      SELECT cov,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(1 - t) AS BIGINT) AS n0,
             CAST(SUM(t * x) AS BIGINT) AS s1,
             CAST(SUM((1 - t) * x) AS BIGINT) AS s0,
             CAST(SUM(t * x * x) AS BIGINT) AS q1,
             CAST(SUM((1 - t) * x * x) AS BIGINT) AS q0
      FROM long GROUP BY cov
    )
    SELECT cov, n1, n0,
           CAST(s1 AS DOUBLE) / n1 AS mean_treat,
           CAST(s0 AS DOUBLE) / n0 AS mean_control,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
             / sqrt(((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                       / (CAST(n1 AS DOUBLE) * (n1 - 1))
                     + (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
                       / (CAST(n0 AS DOUBLE) * (n0 - 1))) / 2) AS smd
    FROM mom
    """,
)
def q365_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIATE BALANCE (standardized mean differences) — the love-plot
    numbers behind "the randomization worked" and "the matching
    worked": per pre-treatment covariate, the arm difference in units
    of pooled standard deviation, |SMD| < 0.1 being the accepted
    balance bar. This is the audit q219 (counts), q253 (matching),
    q316 (CUPED) and q327 (DiD) all implicitly lean on — run it
    FIRST; an imbalanced covariate is either a broken hash or a
    confounder the design must absorb. The per-user covariate matrix
    unpivots to long form so ONE grouped moment aggregate covers
    every covariate (adding a covariate is adding a literal row, not
    a pass); variances are the exact n·Σx² − (Σx)² integers, the SMD
    one fixed float expression with the exempt sqrt. Property: the
    hash split is genuinely random here, so all |SMD| come out
    small — and the test plants a corrupted assignment to prove the
    metric catches imbalance when it exists."""
    ev = load(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        != 0
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.first(t).alias("t"),
        F.count(F.lit(1)).cast("long").alias("x_events"),
        F.sum(
            F.when(
                F.col("event_type") == "click",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x_clicks"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("x_days"),
    )
    long = per_user.selectExpr(
        "t",
        "stack(3, 'n_events', x_events, 'click_cents', x_clicks,"
        " 'active_days', x_days) AS (cov, x)",
    )
    mom = long.groupBy("cov").agg(
        F.sum("t").cast("long").alias("n1"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
        F.sum(F.col("t") * F.col("x")).cast("long").alias("s1"),
        F.sum((1 - F.col("t")) * F.col("x")).cast("long").alias("s0"),
        F.sum(F.col("t") * F.col("x") * F.col("x")).cast("long").alias("q1"),
        F.sum((1 - F.col("t")) * F.col("x") * F.col("x"))
        .cast("long")
        .alias("q0"),
    )
    return mom.selectExpr(
        "cov",
        "n1",
        "n0",
        "CAST(s1 AS DOUBLE) / n1 AS mean_treat",
        "CAST(s0 AS DOUBLE) / n0 AS mean_control",
        "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
        " / sqrt(((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)"
        " / (CAST(n1 AS DOUBLE) * (n1 - 1))"
        " + (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)"
        " / (CAST(n0 AS DOUBLE) * (n0 - 1))) / 2) AS smd",
    )


@query(
    "q367_capture_recapture",
    oracle="""
    WITH s1 AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    s2 AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    counts AS (
      SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM s1 JOIN s2 USING (user_id))
               AS BIGINT) AS m,
             CAST((SELECT COUNT(DISTINCT user_id) FROM events)
               AS BIGINT) AS true_n
    )
    SELECT n1, n2, m, true_n,
           CAST(n1 * n2 // m AS BIGINT) AS lincoln_petersen,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman
    FROM counts
    """,
)
def q367_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE — ecology's population estimator doing data
    engineering's coverage question: how many entities EXIST given two
    overlapping observation channels? Mark n1 via one channel
    (clickers), recapture n2 via another (viewers), and the overlap m
    gives Lincoln-Petersen N̂ = n1·n2/m, with Chapman's
    (n1+1)(n2+1)/(m+1) − 1 correcting the small-m bias. The warehouse
    uses: estimating total customers when each source system sees a
    biased slice, sizing the dedup universe before an MDM build,
    auditing whether "distinct users" is undercounting. Here the data
    holds the TRUE answer too, so both estimators are graded against
    it (they land close because the channels are near-independent —
    the estimator's assumption, stated and testable). ONE per-user
    rollup with channel flags, then one 4-column sum — the r11
    fact-rescan audit rewrote the original three-distinct-counts +
    semi-join form (5 fact scans) into this single-scan shape; the
    oracle (unchanged) still spells the relational form."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("c"),
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("v"),
    )
    counts = per_user.agg(
        F.sum("c").cast("long").alias("n1"),
        F.sum("v").cast("long").alias("n2"),
        F.sum(F.col("c") * F.col("v")).cast("long").alias("m"),
        F.count(F.lit(1)).cast("long").alias("true_n"),
    )
    return counts.selectExpr(
        "n1",
        "n2",
        "m",
        "true_n",
        "CAST(n1 * n2 DIV m AS BIGINT) AS lincoln_petersen",
        "CAST((n1 + 1) * (n2 + 1) DIV (m + 1) - 1 AS BIGINT) AS chapman",
    )


RDD_BANDWIDTH = 10  # local window on each side of the (median) cutoff


@query(
    "q369_regression_discontinuity",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
                           THEN 1 ELSE 0 END) AS BIGINT) AS run_x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-08'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    hist AS (
      SELECT run_x, CAST(COUNT(*) AS BIGINT) AS cnt FROM per_user GROUP BY 1
    ),
    cutoff AS (
      SELECT MIN(run_x) AS c FROM (
        SELECT run_x,
               SUM(cnt) OVER (ORDER BY run_x ROWS UNBOUNDED PRECEDING) AS cm,
               SUM(cnt) OVER () AS n
        FROM hist
      ) WHERE cm >= (n + 1) // 2
    ),
    local AS (
      SELECT CASE WHEN p.run_x >= cutoff.c THEN 1 ELSE 0 END AS side,
             CAST(p.run_x - cutoff.c AS BIGINT) AS x, p.y
      FROM per_user p, cutoff
      WHERE p.run_x >= cutoff.c - {RDD_BANDWIDTH}
        AND p.run_x < cutoff.c + {RDD_BANDWIDTH}
    ),
    mom AS (
      SELECT side,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM local GROUP BY side
    ),
    fits AS (
      SELECT side, n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
             (CAST(sy AS DOUBLE) / n)
               - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                 * (CAST(sx AS DOUBLE) / n) AS intercept
      FROM mom
    )
    SELECT MAX(CASE WHEN side = 0 THEN n END) AS n_below,
           MAX(CASE WHEN side = 1 THEN n END) AS n_above,
           MAX(CASE WHEN side = 0 THEN intercept END) AS intercept_below,
           MAX(CASE WHEN side = 1 THEN intercept END) AS intercept_above,
           MAX(CASE WHEN side = 0 THEN slope END) AS slope_below,
           MAX(CASE WHEN side = 1 THEN slope END) AS slope_above,
           MAX(CASE WHEN side = 1 THEN intercept END)
             - MAX(CASE WHEN side = 0 THEN intercept END) AS rdd_effect_cents
    FROM fits
    """,
)
def q369_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION DISCONTINUITY — the causal design for threshold-
    assigned treatments (loyalty tiers, credit cutoffs, free-shipping
    minimums): fit a local line to the outcome on each side of the
    running-variable cutoff inside a bandwidth, and the treatment
    effect is the JUMP between intercepts AT the cutoff — users just
    below and just above the line are as-good-as-randomized, which is
    the entire identification. Both fits are q23-style exact-moment
    OLS (running variable centered at the cutoff so the intercept IS
    the boundary value); the pivot to one row fixes the float order.
    Here no real threshold policy exists, so the honest estimate is
    ~0 — the PLACEBO test real RDD studies run at fake cutoffs, and
    the property test both checks that and plants a true jump to
    prove the estimator sees one. Bandwidth sensitivity = re-running
    with a different literal; the McCrary density check at the
    cutoff is q214's digit machinery pointed at run_x."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.to_date("ts") < F.lit("2024-01-08").cast("date"), 1).otherwise(0)
        )
        .cast("long")
        .alias("run_x"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= F.lit("2024-01-08").cast("date")),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    hist = per_user.groupBy("run_x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wc = Window.orderBy("run_x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cutoff = (
        hist.select(
            "run_x",
            F.sum("cnt").over(wc).alias("cm"),
            F.sum("cnt").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("cm") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("run_x").alias("c"))
    )
    local = per_user.crossJoin(F.broadcast(cutoff)).filter(
        (F.col("run_x") >= F.col("c") - RDD_BANDWIDTH)
        & (F.col("run_x") < F.col("c") + RDD_BANDWIDTH)
    ).select(
        F.when(F.col("run_x") >= F.col("c"), 1).otherwise(0).alias("side"),
        (F.col("run_x") - F.col("c")).cast("long").alias("x"),
        "y",
    )
    mom = local.groupBy("side").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    fits = mom.selectExpr(
        "side",
        "n",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope",
        "(CAST(sy AS DOUBLE) / n)"
        " - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
        " * (CAST(sx AS DOUBLE) / n) AS intercept",
    )
    return fits.groupBy().agg(
        F.max(F.when(F.col("side") == 0, F.col("n"))).cast("bigint").alias("n_below"),
        F.max(F.when(F.col("side") == 1, F.col("n"))).cast("bigint").alias("n_above"),
        F.max(F.when(F.col("side") == 0, F.col("intercept"))).alias("intercept_below"),
        F.max(F.when(F.col("side") == 1, F.col("intercept"))).alias("intercept_above"),
        F.max(F.when(F.col("side") == 0, F.col("slope"))).alias("slope_below"),
        F.max(F.when(F.col("side") == 1, F.col("slope"))).alias("slope_above"),
        (
            F.max(F.when(F.col("side") == 1, F.col("intercept")))
            - F.max(F.when(F.col("side") == 0, F.col("intercept")))
        ).alias("rdd_effect_cents"),
    )


@query(
    "q370_overdispersion",
    oracle="""
    WITH daily AS (
      SELECT event_type, user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2, 3
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS s,
             CAST(SUM(k * k) AS BIGINT) AS q
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n, s, q,
           CAST(s AS DOUBLE) / n AS mean_k,
           (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1)) AS var_k,
           ((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1))) / (CAST(s AS DOUBLE) / n)
             AS dispersion_index,
           ((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1))) / (CAST(s AS DOUBLE) / n)
             > 1.5 AS overdispersed
    FROM mom
    """,
)
def q370_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERDISPERSION CHECK — the pre-modeling diagnostic for count
    data: a Poisson model assumes variance == mean (dispersion index
    1); real user-day event counts are almost always overdispersed
    (bursty users, heterogeneity), and fitting Poisson anyway
    understates every standard error downstream — the negative-
    binomial switch decision is exactly this ratio. Per stream, the
    index is the exact-moment variance over the mean (q23 integers,
    one fixed division chain), with a literal 1.5 decision line; the
    modeler reads (mean, var, index) and picks the likelihood. This
    is also the q341 power planner's hidden assumption check — an
    overdispersed metric needs variance from THIS table, not the
    Poisson shortcut. One (type, user, day) rollup (the only real
    shuffle) + a per-type moment reduction."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("q"),
    )
    return mom.selectExpr(
        "event_type",
        "n",
        "s",
        "q",
        "CAST(s AS DOUBLE) / n AS mean_k",
        "(CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS var_k",
        "((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1))) / (CAST(s AS DOUBLE) / n)"
        " AS dispersion_index",
        "((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1))) / (CAST(s AS DOUBLE) / n)"
        " > 1.5 AS overdispersed",
    )


@query(
    "q378_paired_ttest",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    diffs AS (SELECT post - pre AS dd FROM per_user),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dd) AS BIGINT) AS s,
             CAST(SUM(dd * dd) AS BIGINT) AS q
      FROM diffs
    )
    SELECT n, s, q,
           CAST(s AS DOUBLE) / n AS mean_diff_cents,
           (CAST(s AS DOUBLE) / n)
             / sqrt(((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                     / (CAST(n AS DOUBLE) * (n - 1))) / n) AS t_stat
    FROM mom
    """,
)
def q378_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED t-TEST — the within-subject design q144's Welch throws
    away: each user is their own control (post − pre differences),
    which cancels all the between-user variance that dominates
    revenue metrics — the same leverage CUPED (q316) gets from a
    covariate, obtained structurally. t = d̄ / (s_d/√n) from the
    exact integer difference moments; one per-user rollup, one 3-sum
    reduction, one fixed float expression with the exempt sqrt. The
    practical trap the docstring must carry: pre/post designs
    confound time (use q327's DiD when a control group exists — the
    paired t is for when it doesn't). Property-tested against a
    Python recomputation and on a planted constant shift, where
    s_d = 0 is the degenerate edge the formula must survive (it
    doesn't — planted data adds noise; the test documents why)."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.to_date("ts") < cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("pre"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= cutoff),
                cents,
            ).otherwise(0)
        )
        .cast("long")
        .alias("post"),
    )
    mom = per_user.select(
        (F.col("post") - F.col("pre")).alias("dd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dd").cast("long").alias("s"),
        F.sum(F.col("dd") * F.col("dd")).cast("long").alias("q"),
    )
    return mom.selectExpr(
        "n",
        "s",
        "q",
        "CAST(s AS DOUBLE) / n AS mean_diff_cents",
        "(CAST(s AS DOUBLE) / n)"
        " / sqrt(((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1))) / n) AS t_stat",
    )


@query(
    "q379_mcnemar",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS truth,
             CASE WHEN value >= 150 THEN 1 ELSE 0 END AS model_a,
             CASE WHEN value >= 120 THEN 1 ELSE 0 END AS model_b
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN (model_a = truth) AND (model_b <> truth)
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN (model_a <> truth) AND (model_b = truth)
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (model_a = truth) AND (model_b = truth)
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
             CAST(SUM(CASE WHEN (model_a <> truth) AND (model_b <> truth)
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
      FROM scored
    )
    SELECT b, c, both_right, both_wrong,
           CAST((b - c) * (b - c) AS DOUBLE) / (b + c) AS mcnemar_chi2
    FROM cells
    """,
)
def q379_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST — the correct way to compare two classifiers ON
    THE SAME examples: accuracy deltas ignore that the models' errors
    are correlated; McNemar looks only at the DISCORDANT cells (b =
    only A right, c = only B right) and asks whether they split
    50/50 — χ² = (b−c)²/(b+c), exact integers up to the single final
    division, with the concordant cells reported because they're
    what the naive comparison double-counts. This is the model-eval
    shelf's missing pairwise test (q238 AUC and q339 F1 score ONE
    model; q255/q364 agree on LABELS; McNemar compares TWO models'
    errors). One conditional-sum scan. The property test feeds two
    models where B strictly dominates (c > 0, b = 0) and checks the
    statistic saturates to c."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("truth"),
        F.when(F.col("value") >= 150, 1).otherwise(0).alias("model_a"),
        F.when(F.col("value") >= 120, 1).otherwise(0).alias("model_b"),
    )
    cells = scored.agg(
        F.sum(
            F.when(
                (F.col("model_a") == F.col("truth"))
                & (F.col("model_b") != F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("model_a") != F.col("truth"))
                & (F.col("model_b") == F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("model_a") == F.col("truth"))
                & (F.col("model_b") == F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("both_right"),
        F.sum(
            F.when(
                (F.col("model_a") != F.col("truth"))
                & (F.col("model_b") != F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("both_wrong"),
    )
    return cells.selectExpr(
        "b",
        "c",
        "both_right",
        "both_wrong",
        "CAST((b - c) * (b - c) AS DOUBLE) / (b + c) AS mcnemar_chi2",
    )


@query(
    "q380_bland_altman",
    oracle="""
    WITH paired AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS exact_cents,
             CAST(floor(value + 0.5) AS BIGINT) * 100 AS rounded_cents
      FROM events WHERE event_type = 'purchase'
    ),
    d AS (
      SELECT rounded_cents - exact_cents AS dd FROM paired
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dd) AS BIGINT) AS s,
             CAST(SUM(dd * dd) AS BIGINT) AS q
      FROM d
    )
    SELECT n, s, q,
           CAST(s AS DOUBLE) / n AS bias_cents,
           CAST(s AS DOUBLE) / n - 1.96 * sqrt(
             (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1))) AS loa_lower,
           CAST(s AS DOUBLE) / n + 1.96 * sqrt(
             (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
             / (CAST(n AS DOUBLE) * (n - 1))) AS loa_upper
    FROM mom
    """,
)
def q380_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAND-ALTMAN agreement — when two MEASUREMENT methods report the
    same quantity (a cheap sensor vs the lab, a downsampled metric vs
    the exact one — here dollar-rounded vs exact cents), correlation
    is the wrong question (two methods can correlate 0.99 and still
    disagree by a constant 10%); the right summary is the BIAS (mean
    difference) and the 95% LIMITS OF AGREEMENT (bias ± 1.96·sd of
    differences) — "any single future reading disagrees by this
    much". The warehouse use: certifying that a cheaper rollup (q254
    delta encoding, int8 features q176) is interchangeable with the
    exact pipeline. Exact difference moments, two fixed float
    expressions with the exempt sqrt. The property test checks the
    known structure: dollar-rounding bias is near zero and the LoA
    spans at most ±$0.50 — because that IS the rounding's worst
    case."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    paired = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("exact_cents"),
        (F.floor(F.col("value") + F.lit(0.5)).cast("long") * 100).alias(
            "rounded_cents"
        ),
    )
    mom = paired.select(
        (F.col("rounded_cents") - F.col("exact_cents")).alias("dd")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dd").cast("long").alias("s"),
        F.sum(F.col("dd") * F.col("dd")).cast("long").alias("q"),
    )
    sd = (
        "sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1)))"
    )
    return mom.selectExpr(
        "n",
        "s",
        "q",
        "CAST(s AS DOUBLE) / n AS bias_cents",
        f"CAST(s AS DOUBLE) / n - 1.96 * {sd} AS loa_lower",
        f"CAST(s AS DOUBLE) / n + 1.96 * {sd} AS loa_upper",
    )


@query(
    "q385_design_effect",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_i,
             CAST(SUM(cents) AS BIGINT) AS s_i
      FROM ev GROUP BY user_id
    ),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(s_i) AS BIGINT) AS s,
             CAST(SUM(n_i * n_i) AS BIGINT) AS nn2,
             CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(CAST(s_i AS DOUBLE) * s_i / n_i ORDER BY user_id)),
                  (a, b) -> a + b) AS DOUBLE) AS ssb_raw
      FROM per_user
    ),
    q AS (SELECT CAST(SUM(cents * cents) AS BIGINT) AS qq FROM ev),
    comp AS (
      SELECT f.k, f.n,
             (f.ssb_raw - CAST(f.s AS DOUBLE) * f.s / f.n) / (f.k - 1) AS msb,
             (CAST(q.qq AS DOUBLE) - f.ssb_raw) / (f.n - f.k) AS msw,
             (CAST(f.n AS DOUBLE) - CAST(f.nn2 AS DOUBLE) / f.n) / (f.k - 1)
               AS m0
      FROM folded f, q
    )
    SELECT k AS n_clusters, n AS n_obs, m0,
           (msb - msw) / (msb + (m0 - 1) * msw) AS icc,
           1 + (m0 - 1) * ((msb - msw) / (msb + (m0 - 1) * msw)) AS deff,
           CAST(n AS DOUBLE)
             / (1 + (m0 - 1) * ((msb - msw) / (msb + (m0 - 1) * msw)))
             AS effective_n
    FROM comp
    """,
)
def q385_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESIGN EFFECT — the clustered-data correction q341's power math
    silently needs: events cluster within users, so N events carry
    fewer than N independent observations; the intraclass correlation
    (one-way random-effects ANOVA: ICC = (MSB−MSW)/(MSB+(m₀−1)·MSW))
    and DEFF = 1 + (m₀−1)·ICC convert raw N into EFFECTIVE N — the
    divisor every event-level analysis of user-clustered data must
    apply or its confidence intervals are fiction (the unit-of-
    analysis error). With 150+ clusters the per-cluster s²/n terms
    can't pivot to literal columns (the q323 trick caps at literal
    group sets), so the float sum folds an ORDERED list keyed by
    user_id — the q328/q373 rule scaled to group-indexed sums; every
    other moment is an exact integer. m₀ is the ANOVA-estimator
    average cluster size (not the naive mean — unequal clusters bias
    it). Property-tested against a Python recomputation and the
    effective_n = N/DEFF identity."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum("cents").cast("long").alias("s_i"),
    )
    folded = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_i").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("nn2"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("user_id").alias("u"),
                            (
                                F.col("s_i").cast("double")
                                * F.col("s_i")
                                / F.col("n_i")
                            ).alias("t"),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ).alias("ssb_raw"),
    )
    qq = ev.agg(
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("qq")
    )
    comp = folded.crossJoin(F.broadcast(qq)).selectExpr(
        "k",
        "n",
        "(ssb_raw - CAST(s AS DOUBLE) * s / n) / (k - 1) AS msb",
        "(CAST(qq AS DOUBLE) - ssb_raw) / (n - k) AS msw",
        "(CAST(n AS DOUBLE) - CAST(nn2 AS DOUBLE) / n) / (k - 1) AS m0",
    )
    icc = "(msb - msw) / (msb + (m0 - 1) * msw)"
    return comp.selectExpr(
        "k AS n_clusters",
        "n AS n_obs",
        "m0",
        f"{icc} AS icc",
        f"1 + (m0 - 1) * ({icc}) AS deff",
        f"CAST(n AS DOUBLE) / (1 + (m0 - 1) * ({icc})) AS effective_n",
    )


@query(
    "q386_stratified_ate",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS t,
             CAST(COUNT(*) AS BIGINT) AS activity,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    strat AS (
      SELECT t, y,
             (ROW_NUMBER() OVER (ORDER BY activity, user_id) - 1) * 5
               // COUNT(*) OVER () AS s
      FROM per_user
    ),
    cells AS (
      SELECT s,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(t * y) AS BIGINT) AS s1,
             CAST(SUM(1 - t) AS BIGINT) AS n0,
             CAST(SUM((1 - t) * y) AS BIGINT) AS s0,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM strat GROUP BY s
    ),
    kept AS (SELECT * FROM cells WHERE n1 > 0 AND n0 > 0),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM kept)
    SELECT c.s AS stratum, c.n1, c.n0,
           CAST(c.s1 AS DOUBLE) / c.n1 - CAST(c.s0 AS DOUBLE) / c.n0
             AS stratum_effect_cents,
           (CAST(c.s1 AS DOUBLE) / c.n1 - CAST(c.s0 AS DOUBLE) / c.n0)
             * c.n / t.n_all AS weighted_contribution
    FROM kept c, tot t
    """,
)
def q386_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED ATE — q347 FLAGS Simpson reversals; this produces the
    number that survives them: per activity-quintile stratum, the arm
    difference, each weighted by the stratum's population share — the
    direct-standardization estimator (and exactly propensity-score
    stratification when the stratifier proxies the propensity). The
    weighted contributions SUM to the adjusted ATE, reported per
    stratum so the heterogeneity q261's uplift deciles rank is visible
    in the same table as the adjustment. Strata are exact rank
    quintiles (q338's rule); every cell is an integer conditional sum;
    per-stratum effects divide once, weights are n_s/N in one fixed
    expression. The property test reconciles Σ contributions with the
    direct standardization formula and the cells with q347's (whose
    terciles coarsen these quintiles)."""
    ev = load(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        != 0
    ).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.first(t).alias("t"),
        F.count(F.lit(1)).cast("long").alias("activity"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.to_date("ts") >= F.lit("2024-01-16").cast("date")),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    # |users|-row rollup read by the count and both row-id branches —
    # checkpoint so the fact scan runs once (r11 fact-rescan audit)
    per_user = per_user.localCheckpoint(eager=False)
    n_tot = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    # r10 global-window audit: quintile rank via the range-partitioned
    # row-id form (see q347)
    strat = (
        stable_row_ids(per_user, ["activity", "user_id"], id_col="rnk", start=1)
        .crossJoin(F.broadcast(n_tot))
        .select("t", "y", F.expr("(rnk - 1) * 5 DIV n_all").alias("s"))
    )
    cells = strat.groupBy("s").agg(
        F.sum("t").cast("long").alias("n1"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("s1"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("s0"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # positivity: a stratum missing an arm has no defined effect; drop it
    # and renormalize the standardization weights over retained strata.
    # <=5 rows, read by the weight total and the final projection.
    kept = cells.filter(
        (F.col("n1") > 0) & (F.col("n0") > 0)
    ).localCheckpoint(eager=False)
    tot = kept.agg(F.sum("n").cast("long").alias("n_all"))
    return kept.crossJoin(F.broadcast(tot)).selectExpr(
        "s AS stratum",
        "n1",
        "n0",
        "CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0"
        " AS stratum_effect_cents",
        "(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) * n / n_all"
        " AS weighted_contribution",
    )


JACKKNIFE_GROUPS = 20  # delete-one hash buckets


@query(
    "q390_jackknife_ratio",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':jk'),
                  1, 8) AS BIGINT) % {JACKKNIFE_GROUPS} AS g,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS rev,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS clicks
      FROM events GROUP BY user_id
    ),
    grp AS (
      SELECT g, CAST(SUM(rev) AS BIGINT) AS r_g,
             CAST(SUM(clicks) AS BIGINT) AS c_g
      FROM per_user GROUP BY g
    ),
    tot AS (
      SELECT CAST(SUM(r_g) AS BIGINT) AS r, CAST(SUM(c_g) AS BIGINT) AS c
      FROM grp
    ),
    loo AS (
      SELECT grp.g,
             CAST(tot.r - grp.r_g AS DOUBLE) / (tot.c - grp.c_g) AS theta_g
      FROM grp, tot
    ),
    jack AS (
      SELECT CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(theta_g ORDER BY g)), (a, b) -> a + b)
               / {JACKKNIFE_GROUPS} AS DOUBLE) AS theta_bar
      FROM loo
    ),
    vr AS (
      SELECT CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list((l.theta_g - j.theta_bar) * (l.theta_g - j.theta_bar)
                       ORDER BY l.g)), (a, b) -> a + b)
               * ({JACKKNIFE_GROUPS} - 1) / {JACKKNIFE_GROUPS} AS DOUBLE)
               AS var_jack
      FROM loo l, jack j
    )
    SELECT tot.r AS revenue_cents, tot.c AS clicks,
           CAST(tot.r AS DOUBLE) / tot.c AS ratio_cents_per_click,
           vr.var_jack,
           sqrt(vr.var_jack) AS se_jack
    FROM tot, vr
    """,
)
def q390_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE — the standard error for RATIO metrics
    (revenue per click, CTR, cost per acquisition) that the naive
    per-row variance gets WRONG because numerator and denominator
    covary within users: bucket users into 20 hash
    groups, recompute the ratio leaving each group out (cheap: totals
    minus the group's — no rescan), and the spread of the leave-one-
    out estimates IS the sampling variance, (k−1)/k·Σ(θ_g − θ̄)².
    This is how large experimentation platforms CI every ratio metric
    (delete-a-group / "delta method's honest cousin"). The two float
    reductions over k estimates fold ORDERED lists (q385's rule);
    everything upstream is exact integer totals, so doubling k
    re-buckets without touching the math. The property test
    recomputes in Python and checks the CI behaves (positive SE,
    theta within a few SEs of every LOO estimate)."""
    ev = load(spark, sf_dir, "events")
    g = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":jk"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % JACKKNIFE_GROUPS
    )
    per_user = ev.groupBy("user_id").agg(
        F.first(g).alias("g"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("rev"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
    )
    grp = per_user.groupBy("g").agg(
        F.sum("rev").cast("long").alias("r_g"),
        F.sum("clicks").cast("long").alias("c_g"),
    )
    # k-row group table read by the grand total AND the leave-one-out
    # projection — checkpoint so the per-user rollup (and the fact scan
    # under it) runs once (r11 fact-rescan audit: 5 scans -> 1)
    grp = grp.localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("r_g").cast("long").alias("r"), F.sum("c_g").cast("long").alias("c")
    )
    loo = grp.crossJoin(F.broadcast(tot)).select(
        "g",
        (
            (F.col("r") - F.col("r_g")).cast("double")
            / (F.col("c") - F.col("c_g"))
        ).alias("theta_g"),
    )
    k = JACKKNIFE_GROUPS

    def ordered_sum(col_expr):
        return F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("g").alias("g"), col_expr.alias("x")))
                ),
                lambda s: s["x"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    jack = loo.agg((ordered_sum(F.col("theta_g")) / k).alias("theta_bar"))
    vr = (
        loo.crossJoin(F.broadcast(jack))
        .agg(
            (
                ordered_sum(
                    (F.col("theta_g") - F.col("theta_bar"))
                    * (F.col("theta_g") - F.col("theta_bar"))
                )
                * (k - 1)
                / k
            ).alias("var_jack")
        )
    )
    return (
        tot.crossJoin(F.broadcast(vr))
        .selectExpr(
            "r AS revenue_cents",
            "c AS clicks",
            "CAST(r AS DOUBLE) / c AS ratio_cents_per_click",
            "var_jack",
            "sqrt(var_jack) AS se_jack",
        )
    )


@query(
    "q393_missingness_audit",
    oracle="""
    WITH feed AS (
      -- segment-dependent sensor dropout: BUILDING loses 1/3, others 1/10
      SELECT c_mktsegment AS seg,
             CASE WHEN CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                       || ':miss'), 1, 8) AS BIGINT)
                  % (CASE WHEN c_mktsegment = 'BUILDING' THEN 3 ELSE 10 END)
                  = 0
                  THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    ),
    per_seg AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing
      FROM feed GROUP BY seg
    ),
    ext AS (
      SELECT MAX(n_missing * 1000000 // n) AS max_rate,
             MIN(n_missing * 1000000 // n) AS min_rate
      FROM per_seg
    )
    SELECT p.seg, p.n, p.n_missing,
           CAST(p.n_missing * 1000000 // p.n AS BIGINT) AS rate_ppm,
           e.max_rate > 2 * e.min_rate AS mcar_rejected
    FROM per_seg p, ext e
    """,
)
def q393_missingness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISSINGNESS-MECHANISM AUDIT — before imputing (q307) or dropping
    NULLs, ask WHY they're missing: under MCAR the missing rate is
    flat across observable covariates; here a seeded dropout loses
    BUILDING customers' balances 3x more often than everyone else's,
    and the audit must reject MCAR (max segment rate > 2x min, in
    exact ppm integer comparison — no float rates). Rejecting MCAR is
    the licence-revoker: complete-case analysis and mean imputation
    are both biased once missingness tracks a covariate, and the
    segment with the inflated rate names the stratum to re-weight or
    model (MAR machinery). The mechanism and the detector are
    separate code paths, so the property test recovers the planted
    3x-vs-10x design exactly. One conditional aggregate + a 2-value
    broadcast of the extremes."""
    c = load(spark, sf_dir, "customer")
    drop_mod = F.when(F.col("c_mktsegment") == "BUILDING", 3).otherwise(10)
    missing = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":miss"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % drop_mod
        == 0
    )
    feed = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.when(missing, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
    )
    per_seg = feed.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
    )
    ext = per_seg.agg(
        F.max(F.expr("n_missing * 1000000 DIV n")).alias("max_rate"),
        F.min(F.expr("n_missing * 1000000 DIV n")).alias("min_rate"),
    )
    return per_seg.crossJoin(F.broadcast(ext)).selectExpr(
        "seg",
        "n",
        "n_missing",
        "CAST(n_missing * 1000000 DIV n AS BIGINT) AS rate_ppm",
        "max_rate > 2 * min_rate AS mcar_rejected",
    )


@query(
    "q394_negative_binomial_fit",
    oracle="""
    WITH daily AS (
      SELECT event_type, user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1, 2, 3
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS s,
             CAST(SUM(k * k) AS BIGINT) AS q
      FROM daily GROUP BY event_type
    ),
    mv AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS m,
             (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
               / (CAST(n AS DOUBLE) * (n - 1)) AS v
      FROM mom
    )
    SELECT event_type, n, m AS mean_k, v AS var_k,
           CASE WHEN v > m THEN m * m / (v - m) ELSE NULL END AS nb_r,
           CASE WHEN v > m THEN m / v ELSE NULL END AS nb_p,
           v > m AS nb_applicable
    FROM mv
    """,
)
def q394_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL FIT — q370 diagnoses overdispersion; this
    prescribes the distribution: method-of-moments NB parameters
    r = m²/(v−m) and p = m/v per stream, the two numbers a capacity
    model or synthetic-data generator actually needs (NB is the
    Poisson-Gamma mixture — r is the heterogeneity dial, and r→∞
    recovers Poisson). When v <= m the mixture is unidentifiable and
    the columns are an HONEST NULL with the applicability flag false
    (an equi- or under-dispersed stream should be modeled Poisson or
    binomial, not forced through a negative r — the failure mode of
    blind MoM). Same exact integer moments as q370, two more fixed
    float expressions; the property test checks the moment
    round-trip (NB mean/variance from (r, p) reproduce m and v
    exactly — the algebraic inverse)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("k"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("q"),
    )
    mv = mom.selectExpr(
        "event_type",
        "n",
        "CAST(s AS DOUBLE) / n AS m",
        "(CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
        " / (CAST(n AS DOUBLE) * (n - 1)) AS v",
    )
    return mv.selectExpr(
        "event_type",
        "n",
        "m AS mean_k",
        "v AS var_k",
        "CASE WHEN v > m THEN m * m / (v - m) ELSE NULL END AS nb_r",
        "CASE WHEN v > m THEN m / v ELSE NULL END AS nb_p",
        "v > m AS nb_applicable",
    )


PREVALENCE_GRID_PPM = (10_000, 100_000, 500_000)


@query(
    "q395_prevalence_correction",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value >= 150 THEN 1 ELSE 0 END AS pred
      FROM events
    ),
    cells AS (
      SELECT CAST(SUM(y * pred) AS BIGINT) AS tp,
             CAST(SUM(y * (1 - pred)) AS BIGINT) AS fn,
             CAST(SUM((1 - y) * pred) AS BIGINT) AS fp,
             CAST(SUM((1 - y) * (1 - pred)) AS BIGINT) AS tn
      FROM scored
    ),
    rates AS (
      SELECT tp, fn, fp, tn,
             CAST(tp AS DOUBLE) / (tp + fn) AS sens,
             CAST(tn AS DOUBLE) / (tn + fp) AS spec
      FROM cells
    )
    SELECT g.prev_ppm, r.sens, r.spec,
           (r.sens * g.prev_ppm)
             / (r.sens * g.prev_ppm + (1 - r.spec) * (1000000 - g.prev_ppm))
             AS ppv,
           (r.spec * (1000000 - g.prev_ppm))
             / (r.spec * (1000000 - g.prev_ppm) + (1 - r.sens) * g.prev_ppm)
             AS npv
    FROM rates r, (SELECT UNNEST(ARRAY{list(PREVALENCE_GRID_PPM)})
                   AS prev_ppm) g
    """,
)
def q395_prevalence_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREVALENCE-CORRECTED PPV/NPV — the deployment-shift arithmetic
    that test-set precision hides: sensitivity and specificity are
    properties of the CLASSIFIER, but precision is a property of the
    classifier AND the base rate, so the q189 test-set precision is
    wrong the moment deployment prevalence differs (fraud at 1%, not
    the test set's 20%). Bayes does the correction:
    PPV = sens·π / (sens·π + (1−spec)(1−π)) across a literal
    prevalence grid in ppm — at π = 1% most flagged events are false
    alarms even for a good classifier, the base-rate fallacy made
    numeric. One confusion-cell scan; the grid is a literal unnest;
    all floats fixed-order off exact integers. Property-tested
    against Bayes' theorem recomputed directly and PPV monotonicity
    in π."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.when(F.col("value") >= 150, 1).otherwise(0).alias("pred"),
    )
    cells = scored.agg(
        F.sum(F.col("y") * F.col("pred")).cast("long").alias("tp"),
        F.sum(F.col("y") * (1 - F.col("pred"))).cast("long").alias("fn"),
        F.sum((1 - F.col("y")) * F.col("pred")).cast("long").alias("fp"),
        F.sum((1 - F.col("y")) * (1 - F.col("pred"))).cast("long").alias("tn"),
    )
    rates = cells.selectExpr(
        "tp", "fn", "fp", "tn",
        "CAST(tp AS DOUBLE) / (tp + fn) AS sens",
        "CAST(tn AS DOUBLE) / (tn + fp) AS spec",
    )
    grid = spark.createDataFrame(
        [(p,) for p in PREVALENCE_GRID_PPM], "prev_ppm long"
    )
    return rates.crossJoin(F.broadcast(grid)).selectExpr(
        "prev_ppm",
        "sens",
        "spec",
        "(sens * prev_ppm)"
        " / (sens * prev_ppm + (1 - spec) * (1000000 - prev_ppm)) AS ppv",
        "(spec * (1000000 - prev_ppm))"
        " / (spec * (1000000 - prev_ppm) + (1 - sens) * prev_ppm) AS npv",
    )


@query(
    "q396_weighted_kappa",
    oracle="""
    WITH rated AS (
      SELECT CASE WHEN value < 20 THEN 0 WHEN value < 60 THEN 1 ELSE 2 END AS a,
             CASE WHEN value < 25 THEN 0 WHEN value < 70 THEN 1 ELSE 2 END AS b
      FROM events
    ),
    conf AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM rated GROUP BY a, b
    ),
    margins AS (
      SELECT ra.a, rb.b, ra.row_n, rb.col_n
      FROM (SELECT a, CAST(SUM(o) AS BIGINT) AS row_n FROM conf GROUP BY a) ra,
           (SELECT b, CAST(SUM(o) AS BIGINT) AS col_n FROM conf GROUP BY b) rb
    ),
    sums AS (
      SELECT CAST((SELECT SUM(o) FROM conf) AS BIGINT) AS n,
             CAST((SELECT SUM((a - b) * (a - b) * o) FROM conf) AS BIGINT)
               AS wo,
             CAST((SELECT SUM((a - b) * (a - b) * row_n * col_n)
                   FROM margins) AS BIGINT) AS we_scaled
      FROM (SELECT 1)
    )
    SELECT n, wo, we_scaled,
           1 - CAST(n AS DOUBLE) * wo / we_scaled AS qwk
    FROM sums
    """,
)
def q396_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADRATIC-WEIGHTED KAPPA — ordinal agreement where NEAR misses
    count: two raters putting an item one grade apart is penalized
    (1−2)²=1 while two grades apart costs 4 — the metric medical
    grading and essay-scoring ML standardized on (every Kaggle QWK
    competition), and the right score for LLM-judge 1-5 ratings
    where Cohen's kappa (q255) treats a 4-vs-5 split as total
    disagreement. Everything is exact integers: observed weighted
    disagreement ΣwO from the 3x3 confusion, expected from the
    margin outer product scaled by N (one division at the edge:
    κ_w = 1 − N·ΣwO / Σw·row·col). The two raters are ordinal
    threshold stumps offset by a few dollars, so near-diagonal
    mass dominates — the property test checks QWK lands between
    plain Cohen's (which it should exceed here) and 1, and the
    margins reconcile with N."""
    ev = load(spark, sf_dir, "events")
    rated = ev.select(
        F.when(F.col("value") < 20, 0)
        .when(F.col("value") < 60, 1)
        .otherwise(2)
        .alias("a"),
        F.when(F.col("value") < 25, 0)
        .when(F.col("value") < 70, 1)
        .otherwise(2)
        .alias("b"),
    )
    conf = rated.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("o"))
    rows = conf.groupBy("a").agg(F.sum("o").cast("long").alias("row_n"))
    cols = conf.groupBy("b").agg(F.sum("o").cast("long").alias("col_n"))
    margins = rows.crossJoin(cols)
    n_wo = conf.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum((F.col("a") - F.col("b")) * (F.col("a") - F.col("b")) * F.col("o"))
        .cast("long")
        .alias("wo"),
    )
    we = margins.agg(
        F.sum(
            (F.col("a") - F.col("b"))
            * (F.col("a") - F.col("b"))
            * F.col("row_n")
            * F.col("col_n")
        )
        .cast("long")
        .alias("we_scaled")
    )
    return n_wo.crossJoin(F.broadcast(we)).selectExpr(
        "n",
        "wo",
        "we_scaled",
        "1 - CAST(n AS DOUBLE) * wo / we_scaled AS qwk",
    )


PROFIT_TP_CENTS, PROFIT_FP_CENTS = 400, 120  # benefit per catch, cost per alarm
PROFIT_THRESHOLDS = (40, 60, 80, 100, 120, 150, 200, 250, 300)


@query(
    "q397_profit_threshold",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(floor(value) AS BIGINT) AS v
      FROM events
    ),
    grid AS (SELECT UNNEST(ARRAY{list(PROFIT_THRESHOLDS)}) AS thr),
    cells AS (
      SELECT g.thr,
             CAST(SUM(CASE WHEN s.v >= g.thr AND s.y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.v >= g.thr AND s.y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp
      FROM scored s, grid g GROUP BY g.thr
    ),
    scoredg AS (
      SELECT thr, tp, fp,
             CAST(tp * {PROFIT_TP_CENTS} - fp * {PROFIT_FP_CENTS} AS BIGINT)
               AS profit_cents
      FROM cells
    ),
    best AS (SELECT MAX(profit_cents) AS best_profit FROM scoredg)
    SELECT s.thr AS threshold, s.tp, s.fp, s.profit_cents,
           s.profit_cents = b.best_profit AS is_optimal
    FROM scoredg s, best b
    """,
)
def q397_profit_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROFIT-OPTIMAL OPERATING POINT — the step after every classifier
    metric in this repo (AUC q238, F1 q339, calibration q342): pick
    the THRESHOLD, and pick it in money, not in F-scores — each grid
    point's expected profit is tp·benefit − fp·cost with the
    business's own literal economics (a fraud catch worth $4 against
    a $1.20 review cost wants a very different threshold than
    symmetric costs; accuracy-optimal and profit-optimal thresholds
    agree only when costs do). The whole profit curve ships, flagged
    at its max, because the NEIGHBORHOOD matters — a knife-edge
    optimum is an unstable deployment. One scan x literal grid of
    conditional sums (9 thresholds = one pass, the q395 grid trick),
    pure integer cents. Property-tested: tp/fp are monotone in the
    threshold and the flagged row is the argmax."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.floor("value").cast("long").alias("v"),
    )
    grid = spark.createDataFrame(
        [(t,) for t in PROFIT_THRESHOLDS], "thr long"
    )
    cells = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("v") >= F.col("thr")) & (F.col("y") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when((F.col("v") >= F.col("thr")) & (F.col("y") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    scoredg = cells.withColumn(
        "profit_cents",
        (F.col("tp") * PROFIT_TP_CENTS - F.col("fp") * PROFIT_FP_CENTS).cast(
            "long"
        ),
    )
    best = scoredg.agg(F.max("profit_cents").alias("best_profit"))
    return scoredg.crossJoin(F.broadcast(best)).select(
        F.col("thr").alias("threshold"),
        F.col("tp").cast("bigint"),
        F.col("fp").cast("bigint"),
        F.col("profit_cents").cast("bigint"),
        (F.col("profit_cents") == F.col("best_profit")).alias("is_optimal"),
    )


@query(
    "q403_effective_size",
    oracle="""
    WITH shares AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_suppkey
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(n * n) AS BIGINT) AS sq
      FROM shares
    )
    SELECT k AS n_suppliers, total AS n_lines,
           CAST(total AS DOUBLE) * total / sq AS effective_suppliers,
           (CAST(total AS DOUBLE) * total / sq) / k AS evenness,
           CAST(sq * 10000 // (total * total) AS BIGINT) AS hhi_bp
    FROM mom
    """,
)
def q403_effective_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SIZE (inverse Simpson) — "how many suppliers do we
    REALLY have": N²/Σn² counts participants weighted by how evenly
    volume spreads — 100 suppliers where one takes 90% is effectively
    ~1.2 suppliers, the number procurement-risk and antitrust actually
    reason about. The same statistic inverts to HHI (Σshare², here in
    exact basis points via Σn²·10⁴ DIV N² — the DOJ's concentration
    screen) and normalizes to evenness = effective/actual, and unlike
    Shannon-entropy diversity it needs NO logarithm — the whole family
    is two integer sums, which is why it's the house diversity metric
    (q161's Gini ranks inequality; this counts effective
    participants). One grouped count + a 3-sum reduction; per-region
    effective supplier counts are a groupBy away. Property-tested:
    1 <= effective <= k, uniform synthetic shares hit k exactly, and
    hhi_bp·effective ≈ 10⁴."""
    li = load(spark, sf_dir, "lineitem")
    shares = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mom = shares.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
    )
    return mom.selectExpr(
        "k AS n_suppliers",
        "total AS n_lines",
        "CAST(total AS DOUBLE) * total / sq AS effective_suppliers",
        "(CAST(total AS DOUBLE) * total / sq) / k AS evenness",
        "CAST(sq * 10000 DIV (total * total) AS BIGINT) AS hhi_bp",
    )


@query(
    "q407_cochran_q",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS truth,
             CASE WHEN value >= 150 THEN 1 ELSE 0 END AS m1,
             CASE WHEN value >= 140 THEN 1 ELSE 0 END AS m2,
             CASE WHEN value >= 160 THEN 1 ELSE 0 END AS m3
      FROM events
    ),
    correct AS (
      SELECT CASE WHEN m1 = truth THEN 1 ELSE 0 END AS c1,
             CASE WHEN m2 = truth THEN 1 ELSE 0 END AS c2,
             CASE WHEN m3 = truth THEN 1 ELSE 0 END AS c3
      FROM scored
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c1) AS BIGINT) AS t1,
             CAST(SUM(c2) AS BIGINT) AS t2,
             CAST(SUM(c3) AS BIGINT) AS t3,
             CAST(SUM(c1 + c2 + c3) AS BIGINT) AS r,
             CAST(SUM((c1 + c2 + c3) * (c1 + c2 + c3)) AS BIGINT) AS r2
      FROM correct
    )
    SELECT n, t1, t2, t3,
           CAST(2 * (3 * (CAST(t1 AS DOUBLE) * t1 + CAST(t2 AS DOUBLE) * t2
                          + CAST(t3 AS DOUBLE) * t3)
                     - CAST(r AS DOUBLE) * r)
                / (3 * r - r2) AS DOUBLE) AS cochran_q
    FROM sums
    """,
)
def q407_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q — the k-classifier generalization of McNemar (q379
    handles exactly two): do THREE models' correctness rates differ on
    the same examples, accounting for the per-example correlation that
    makes k independent proportion tests wrong? Q = (k−1)·
    (kΣT_j² − (ΣT_j)²) / (kΣR_i − ΣR_i²) — equal to k(k−1)·Σ(T_j−T̄)²
    over the same denominator where T_j are per-model
    correct counts and R_i per-example correct counts — and with k=3
    the per-example state is one small integer (0..3), so the whole
    statistic reduces to column totals plus ΣR and ΣR² (the q364
    Fleiss collapse reused for model comparison; rows where all three
    agree contribute nothing, as they should). Exact integers to a
    single division. Cochran's Q significant → follow with pairwise
    McNemars; the property test verifies the k=2 degeneration equals
    McNemar's statistic algebraically on a toy table."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("truth"),
        F.when(F.col("value") >= 150, 1).otherwise(0).alias("m1"),
        F.when(F.col("value") >= 140, 1).otherwise(0).alias("m2"),
        F.when(F.col("value") >= 160, 1).otherwise(0).alias("m3"),
    )
    correct = scored.select(
        *[
            F.when(F.col(m) == F.col("truth"), 1).otherwise(0).alias(c)
            for m, c in (("m1", "c1"), ("m2", "c2"), ("m3", "c3"))
        ]
    )
    sums = correct.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c1").cast("long").alias("t1"),
        F.sum("c2").cast("long").alias("t2"),
        F.sum("c3").cast("long").alias("t3"),
        F.sum(F.col("c1") + F.col("c2") + F.col("c3")).cast("long").alias("r"),
        F.sum(
            (F.col("c1") + F.col("c2") + F.col("c3"))
            * (F.col("c1") + F.col("c2") + F.col("c3"))
        )
        .cast("long")
        .alias("r2"),
    )
    return sums.selectExpr(
        "n",
        "t1",
        "t2",
        "t3",
        "CAST(2 * (3 * (CAST(t1 AS DOUBLE) * t1 + CAST(t2 AS DOUBLE) * t2"
        " + CAST(t3 AS DOUBLE) * t3) - CAST(r AS DOUBLE) * r)"
        " / (3 * r - r2) AS DOUBLE) AS cochran_q",
    )


@query(
    "q409_partial_correlation",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS z
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(z) AS BIGINT) AS sz,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * z) AS BIGINT) AS sxz,
             CAST(SUM(y * z) AS BIGINT) AS syz,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(z * z) AS BIGINT) AS szz
      FROM per_user
    ),
    corrs AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS rxy,
             (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS rxz,
             (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               / (sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                  * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS ryz
      FROM mom
    )
    SELECT n, rxy, rxz, ryz,
           (rxy - rxz * ryz)
             / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)) AS partial_rxy_z
    FROM corrs
    """,
)
def q409_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL CORRELATION — does the click↔revenue relationship survive
    CONTROLLING for total activity? The raw r_xy between clicks and
    purchase revenue is confounded by user volume (busy users do more
    of everything — q385's clustering confound wearing a correlation
    costume); the first-order partial
    r_xy·z = (r_xy − r_xz·r_yz)/√(1−r_xz²)√(1−r_yz²) residualizes
    both margins against the control in closed form — no regression
    fit, just the three pairwise correlations q193's matrix already
    computes, combined in one fixed expression (the recursion extends
    to higher orders / inverse correlation matrices; first order is
    where dashboards stop). All moments exact integers; sqrt exempt.
    When raw r_xy is large and the partial collapses toward zero,
    the 'clicks drive revenue' story was volume all along — the test
    plants exactly that confound and watches the partial erase it."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
        F.count(F.lit(1)).cast("long").alias("z"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    def r(ab, a, b, aa, bb):
        return (
            f"(CAST(n AS DOUBLE) * {ab} - CAST({a} AS DOUBLE) * {b})"
            f" / (sqrt(CAST(n AS DOUBLE) * {aa} - CAST({a} AS DOUBLE) * {a})"
            f" * sqrt(CAST(n AS DOUBLE) * {bb} - CAST({b} AS DOUBLE) * {b}))"
        )
    corrs = mom.selectExpr(
        "n",
        f"{r('sxy','sx','sy','sxx','syy')} AS rxy",
        f"{r('sxz','sx','sz','sxx','szz')} AS rxz",
        f"{r('syz','sy','sz','syy','szz')} AS ryz",
    )
    return corrs.selectExpr(
        "n",
        "rxy",
        "rxz",
        "ryz",
        "(rxy - rxz * ryz)"
        " / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)) AS partial_rxy_z",
    )


@query(
    "q417_brier_decomposition",
    oracle="""
    WITH pred AS (
      SELECT (o_custkey % 101) * 1000000 // 101 AS f_ppm,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    binned AS (
      SELECT CAST(f_ppm * 10 // 1000001 AS BIGINT) AS bin, y
      FROM pred
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
      FROM binned
    ),
    perbin AS (
      SELECT bin,
             CAST(bin * 100000 + 50000 AS BIGINT) AS f_q_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(y) AS BIGINT) AS s_b
      FROM binned GROUP BY bin
    )
    SELECT p.bin, p.f_q_ppm, p.n_b, p.s_b,
           p.s_b * 1000000 // p.n_b AS o_b_ppm,
           (CAST(p.f_q_ppm AS DOUBLE) * p.n_b - 1000000.0 * p.s_b)
             * (CAST(p.f_q_ppm AS DOUBLE) * p.n_b - 1000000.0 * p.s_b)
             / p.n_b AS rel_num_e12,
           (CAST(p.s_b AS DOUBLE) * t.n - CAST(t.s AS DOUBLE) * p.n_b)
             * 1000000.0
             * (CAST(p.s_b AS DOUBLE) * t.n - CAST(t.s AS DOUBLE) * p.n_b)
             * 1000000.0
             / (CAST(p.n_b AS DOUBLE) * t.n * t.n) AS res_num_e12,
           CAST(p.n_b * p.f_q_ppm * p.f_q_ppm
                - 2 * p.f_q_ppm * 1000000 * p.s_b
                + CAST(1000000 AS BIGINT) * 1000000 * p.s_b
                AS BIGINT) AS brier_num_e12
    FROM perbin p CROSS JOIN tot t
    """,
)
def q417_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MURPHY DECOMPOSITION of the Brier score — reliability, resolution,
    uncertainty — the forecast-verification triptych behind q263's ECE
    table: REL (how far each bin's forecast sits from its realized
    rate), RES (how much the bins separate from the base rate), UNC
    (base-rate variance), with Brier = REL − RES + UNC holding EXACTLY
    because forecasts are quantized to their bin (constant-within-bin
    is the identity's precondition; the pytest property re-proves it
    from this output with numpy). Forecasts are a deterministic
    pseudo-uniform ppm score (custkey residue), outcome = order status
    'F'. Everything upstream of the last step is exact integers: per-
    bin counts and outcome sums, o_b in floor-ppm, and the per-bin
    Brier numerator as int64 ppm² units, output BIGINT (the driver
    hasher rejects DECIMAL outputs, r10 — n_b·1e12 fits int64 below
    ~9e6 rows per bin, and ANSI throws past that). REL/RES are
    e12-scaled doubles from ONE fixed cross-multiplied expression each
    (the q406 moment-algebra discipline — no per-row floats, nothing
    order-dependent; the global base rate arrives via a broadcast
    1-row cross join, never a second scan). 10 output rows regardless
    of input size — the fixed-cardinality rule."""
    o = load(spark, sf_dir, "orders")
    binned = o.select(
        F.expr("(o_custkey % 101) * 1000000 div 101 * 10 div 1000001").alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    tot = binned.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    perbin = binned.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("s_b"),
    )
    return (
        perbin.withColumn(
            "f_q_ppm", (F.col("bin") * 100000 + 50000).cast("long")
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bin",
            "f_q_ppm",
            "n_b",
            "s_b",
            "s_b * 1000000 div n_b AS o_b_ppm",
            "(CAST(f_q_ppm AS DOUBLE) * n_b - 1000000.0D * s_b)"
            " * (CAST(f_q_ppm AS DOUBLE) * n_b - 1000000.0D * s_b)"
            " / n_b AS rel_num_e12",
            "(CAST(s_b AS DOUBLE) * n - CAST(s AS DOUBLE) * n_b)"
            " * 1000000.0D"
            " * (CAST(s_b AS DOUBLE) * n - CAST(s AS DOUBLE) * n_b)"
            " * 1000000.0D"
            " / (CAST(n_b AS DOUBLE) * n * n) AS res_num_e12",
            "CAST(n_b * f_q_ppm * f_q_ppm"
            " - 2 * f_q_ppm * 1000000 * s_b"
            " + CAST(1000000 AS BIGINT) * 1000000 * s_b"
            " AS BIGINT) AS brier_num_e12",
        )
    )


@query(
    "q418_l_diversity",
    oracle="""
    WITH qi AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nation,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment AS sensitive
      FROM customer
    )
    SELECT nation, bal_band,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l,
           COUNT(*) >= 5 AS meets_k5,
           COUNT(DISTINCT sensitive) >= 3 AS meets_l3,
           COUNT(*) >= 5 AND COUNT(DISTINCT sensitive) >= 3 AS publishable
    FROM qi GROUP BY nation, bal_band
    """,
)
def q418_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit — the disclosure-control gate k-anonymity (q241)
    cannot provide: a group of 50 identical quasi-identifiers is
    k-anonymous yet leaks everything if all 50 share ONE sensitive
    value (the homogeneity attack). Per QI group (nation × $1000
    balance band), report k (group size), l (distinct sensitive market
    segments), and the k>=5 / l>=3 / publishable verdicts — the policy
    table q284's suppressed rollup and q277's masking policy would
    consume before release. One grouped scan with map-side combine;
    COUNT(DISTINCT) over a 5-value domain rewrites to the expand-
    then-count plan Catalyst picks automatically (bounded by domain
    size, never row count). Property tests: l <= min(k, 5) always, and
    planting a homogeneous group (single segment) flips its
    publishable verdict off."""
    c = load(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    return l_diversity_audit(qi, ["nation", "bal_band"], "sensitive")


def l_diversity_audit(
    df: DataFrame, qi_cols: list[str], sensitive: str, k_min: int = 5, l_min: int = 3
) -> DataFrame:
    """Per-QI-group k/l counts and release verdicts (see q418)."""
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.countDistinct(sensitive).cast("long").alias("l"),
        (F.count(F.lit(1)) >= k_min).alias("meets_k5"),
        (F.countDistinct(sensitive) >= l_min).alias("meets_l3"),
        (
            (F.count(F.lit(1)) >= k_min) & (F.countDistinct(sensitive) >= l_min)
        ).alias("publishable"),
    )


_NEYMAN_BUDGET = 1000
_NEYMAN_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _neyman_oracle() -> str:
    w_sum = " + ".join(f"w_{s}" for s in _NEYMAN_SEGS)
    w_cols = ",\n             ".join(
        f"CAST(MAX(CASE WHEN stratum = '{s}' THEN w END) AS DOUBLE) AS w_{s}"
        for s in _NEYMAN_SEGS
    )
    return f"""
    WITH mom AS (
      SELECT c_mktsegment AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sx,
             CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                      * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sxx
      FROM customer GROUP BY c_mktsegment
    ),
    sig AS (
      SELECT stratum, n_h,
             sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  / (CAST(n_h AS DOUBLE) * (n_h - 1))) AS sigma_c,
             CAST(n_h AS DOUBLE)
               * sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      / (CAST(n_h AS DOUBLE) * (n_h - 1))) AS w
      FROM mom
    ),
    tot AS (
      SELECT {w_cols}
      FROM sig
    ),
    quota AS (
      SELECT s.stratum, s.n_h, s.sigma_c, s.w,
             ({_NEYMAN_BUDGET}.0 * s.w) / ({w_sum}) AS q
      FROM sig s CROSS JOIN tot
    ),
    based AS (
      SELECT stratum, n_h, sigma_c, w, q,
             CAST(FLOOR(q) AS BIGINT) AS base,
             q - FLOOR(q) AS rem
      FROM quota
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC) AS rk,
             (SELECT CAST(SUM(base) AS BIGINT) FROM based) AS base_sum
      FROM based
    )
    SELECT stratum, n_h, sigma_c, q AS neyman_quota,
           base + CASE WHEN rk <= {_NEYMAN_BUDGET} - base_sum THEN 1 ELSE 0 END
             AS alloc
    FROM ranked
    """


@query("q421_neyman_allocation", oracle=_neyman_oracle())
def q421_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN OPTIMAL ALLOCATION of a 1000-unit sampling budget across
    the five market-segment strata: n_h ∝ N_h·σ_h (big AND noisy strata
    earn more samples — the variance-minimizing stratified design), with
    the fractional quotas settled by q267's largest-remainder
    apportionment so Σ alloc ≡ budget exactly. Parity discipline:
    per-stratum moments are exact int64 cent sums (σ via the
    sqrt-only rule — ONE fixed expression over integer moments, q385's
    shape); the cross-stratum weight TOTAL is the one float sum in the
    query, so it goes through the pivot-to-one-row trick (q323/q343 —
    five MAX(CASE) columns summed in a fixed literal order, never a
    grouped float SUM whose partial order floats free). Remainder
    ranking orders identical doubles on both engines with the stratum
    as tiebreak. Property tests: Σ alloc == 1000, monotone in N_h·σ_h,
    and a numpy replay (cents → std → largest remainder) reproduces
    the allocation."""
    c = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    mom = c.groupBy(F.col("c_mktsegment").alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(cents).cast("long").alias("sx"),
        F.sum(cents * cents).cast("long").alias("sxx"),
    )
    sig = mom.selectExpr(
        "stratum",
        "n_h",
        "sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n_h AS DOUBLE) * (n_h - 1))) AS sigma_c",
        "CAST(n_h AS DOUBLE)"
        " * sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " / (CAST(n_h AS DOUBLE) * (n_h - 1))) AS w",
    )
    w_cols = [
        F.max(F.when(F.col("stratum") == s, F.col("w")))
        .cast("double")
        .alias(f"w_{s}")
        for s in _NEYMAN_SEGS
    ]
    tot = sig.agg(*w_cols)
    w_sum = " + ".join(f"w_{s}" for s in _NEYMAN_SEGS)
    quota = sig.crossJoin(F.broadcast(tot)).selectExpr(
        "stratum",
        "n_h",
        "sigma_c",
        "w",
        f"({_NEYMAN_BUDGET}.0D * w) / ({w_sum}) AS q",
    )
    based = quota.selectExpr(
        "stratum",
        "n_h",
        "sigma_c",
        "w",
        "q",
        "CAST(FLOOR(q) AS BIGINT) AS base",
        "q - FLOOR(q) AS rem",
    )
    bs = based.agg(F.sum("base").cast("long").alias("base_sum"))
    wr = Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())
    return (
        based.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(bs))
        .selectExpr(
            "stratum",
            "n_h",
            "sigma_c",
            "q AS neyman_quota",
            f"base + CASE WHEN rk <= {_NEYMAN_BUDGET} - base_sum"
            " THEN 1 ELSE 0 END AS alloc",
        )
    )


@query(
    "q422_hodges_lehmann",
    oracle="""
    WITH vals AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    walsh AS (
      SELECT a.event_type, a.v + b.v AS sum2,
             CASE WHEN a.v = b.v THEN a.c * (a.c + 1) // 2
                  ELSE a.c * b.c END AS w
      FROM vals a JOIN vals b
        ON b.event_type = a.event_type AND b.v >= a.v
    ),
    grouped AS (
      SELECT event_type, sum2, CAST(SUM(w) AS BIGINT) AS w
      FROM walsh GROUP BY event_type, sum2
    ),
    cum AS (
      SELECT event_type, sum2, w,
             SUM(w) OVER (PARTITION BY event_type ORDER BY sum2
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             SUM(w) OVER (PARTITION BY event_type) AS tw
      FROM grouped
    )
    SELECT event_type,
           CAST(tw AS BIGINT) AS n_walsh,
           CAST(MIN(sum2) FILTER (WHERE cw >= (tw + 1) // 2) AS BIGINT)
             AS hl_sum2,
           CAST(MIN(sum2) FILTER (WHERE cw >= (tw + 1) // 2) AS DOUBLE) / 2
             AS hl_estimate
    FROM cum GROUP BY event_type, tw
    """,
)
def q422_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HODGES-LEHMANN estimator per event type — the median of all
    pairwise Walsh averages (x_i + x_j)/2, i <= j: the location
    estimate dual to the Wilcoxon signed-rank test, robust like the
    median but ~95% as efficient as the mean at the Gaussian (the
    median is 64%). The naive form is an O(n²) self-join that would
    be 4·10¹⁴ pairs per group at sf1 — the scale move is COMPRESSION
    TO DISTINCT VALUES first (~210 integer values per group however
    many rows), so the Walsh join is value²/2 ≈ 22k weighted pairs
    per group, INPUT-SIZE INDEPENDENT (q279's same trick in 1-D).
    Multiplicities: c_a·c_b for a<b, c(c+1)/2 for the diagonal
    (unordered pairs WITH self-pairs, the standard HL convention).
    Everything stays integer by carrying DOUBLED sums (v_a + v_b, no
    halving until the final single division); the weighted median is
    the lower-median convention (smallest sum2 whose cumulative
    weight reaches ⌈W/2⌉ — ties broken identically in both engines
    because the key is an integer). Property tests: Σ weights ==
    n(n+1)/2 exactly, a numpy brute-force over a sampled group
    reproduces the estimate, and HL of a symmetric planted sample
    equals its median."""
    ev = load(spark, sf_dir, "events")
    vals = ev.groupBy(
        "event_type", F.floor("value").cast("long").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # Both Walsh-join legs derive from this ~values-per-group-row
    # aggregate; without a checkpoint each leg re-scans and
    # re-aggregates the FACT table (the dominant linear cost, paid
    # 2x). localCheckpoint materializes it once (lazy, the q408
    # pattern) — r11, found while adjudicating the r10 bench mover.
    vals = vals.localCheckpoint(eager=False)
    a = vals.select(
        "event_type", F.col("v").alias("va"), F.col("c").alias("ca")
    )
    b = vals.select(
        "event_type", F.col("v").alias("vb"), F.col("c").alias("cb")
    )
    walsh = (
        a.join(b, "event_type")
        .filter(F.col("vb") >= F.col("va"))
        .select(
            "event_type",
            (F.col("va") + F.col("vb")).alias("sum2"),
            F.when(
                F.col("va") == F.col("vb"),
                F.expr("ca * (ca + 1) div 2"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("w"),
        )
        .groupBy("event_type", "sum2")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    wc = Window.partitionBy("event_type").orderBy("sum2").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("event_type")
    cum = walsh.select(
        "event_type",
        "sum2",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        cum.groupBy("event_type", F.col("tw").cast("long").alias("n_walsh"))
        .agg(
            F.min(F.when(F.col("cw") >= F.expr("(tw + 1) div 2"), F.col("sum2")))
            .cast("long")
            .alias("hl_sum2")
        )
        .select(
            "event_type",
            "n_walsh",
            "hl_sum2",
            (F.col("hl_sum2").cast("double") / 2).alias("hl_estimate"),
        )
    )


@query(
    "q423_wilcoxon_signed_rank",
    oracle="""
    WITH halves AS (
      SELECT event_type, user_id,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                           THEN 1 ELSE 0 END) AS BIGINT)
             - CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events GROUP BY 1, 2
    ),
    nz AS (SELECT event_type, user_id, d, ABS(d) AS ad FROM halves WHERE d <> 0),
    zeros AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_zero
      FROM halves WHERE d = 0 GROUP BY event_type
    ),
    tie AS (
      SELECT event_type, ad,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM nz GROUP BY event_type, ad
    ),
    ranked AS (
      SELECT event_type, ad, cnt, pos,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type ORDER BY ad
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
      FROM tie
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(pos * (2 * below + cnt + 1)) AS BIGINT) AS w2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM ranked GROUP BY event_type
    )
    SELECT a.event_type, a.n, COALESCE(z.n_zero, 0) AS n_zero,
           a.w2 AS w_plus_x2,
           (2.0 * a.w2 - CAST(a.n AS DOUBLE) * (a.n + 1))
             / sqrt((2.0 * a.n * (a.n + 1) * (2 * a.n + 1) - a.tie_term) / 3)
             AS z_score,
           ABS((2.0 * a.w2 - CAST(a.n AS DOUBLE) * (a.n + 1))
             / sqrt((2.0 * a.n * (a.n + 1) * (2 * a.n + 1) - a.tie_term) / 3))
             > 1.96 AS significant
    FROM agg a LEFT JOIN zeros z ON z.event_type = a.event_type
    """,
)
def q423_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILCOXON SIGNED-RANK test per event type — the nonparametric
    paired test completing the trio (q297 Mann-Whitney for independent
    samples, q378 paired t for within-subject means): did per-user
    activity SHIFT between the month's first and second half, judged by
    RANKS of |difference| so one whale user cannot buy the verdict.
    Zero differences drop (the standard convention — reported in
    `n_zero`); tied |d| values get MIDRANKS. The exactness move: work
    in DOUBLED ranks — with `below` = count of smaller |d| and `cnt`
    the tie size, 2·midrank = 2·below + cnt + 1 stays integer, so
    2W⁺ = Σ_{d>0} (2·below + cnt + 1) is an exact int64 and the
    normal-approximation z is ONE fixed float expression:
    z = (2·(2W⁺) − n(n+1)) / √((2n(n+1)(2n+1) − Σ(t³−t))/3), the
    16σ²-scaled form of the textbook variance WITH tie correction.
    The rank pass runs over distinct |d| VALUES per group (bounded by
    the count range, not the user count) — the q422 compression. The
    numpy midrank replay (the formula-audit discipline) recomputes
    W⁺ and z from raw differences with scipy-free textbook code."""
    ev = load(spark, sf_dir, "events")
    halves = ev.groupBy("event_type", "user_id").agg(
        (
            F.sum(
                F.when(
                    F.to_date("ts") >= F.lit("2024-01-16").cast("date"), 1
                ).otherwise(0)
            )
            - F.sum(
                F.when(
                    F.to_date("ts") < F.lit("2024-01-16").cast("date"), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("d")
    )
    nz = halves.filter(F.col("d") != 0).withColumn("ad", F.abs("d"))
    zeros = (
        halves.filter(F.col("d") == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_zero"))
    )
    tie = nz.groupBy("event_type", "ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    wb = Window.partitionBy("event_type").orderBy("ad").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = tie.withColumn(
        "below", F.coalesce(F.sum("cnt").over(wb), F.lit(0)).cast("long")
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("below") + F.col("cnt") + 1))
        .cast("long")
        .alias("w2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("tie_term"),
    )
    return (
        agg.join(zeros, "event_type", "left")
        .selectExpr(
            "event_type",
            "n",
            "COALESCE(n_zero, 0L) AS n_zero",
            "w2 AS w_plus_x2",
            "(2.0D * w2 - CAST(n AS DOUBLE) * (n + 1))"
            " / sqrt((2.0D * n * (n + 1) * (2 * n + 1) - tie_term) / 3)"
            " AS z_score",
            "ABS((2.0D * w2 - CAST(n AS DOUBLE) * (n + 1))"
            " / sqrt((2.0D * n * (n + 1) * (2 * n + 1) - tie_term) / 3))"
            " > 1.96D AS significant",
        )
    )


@query(
    "q448_luhn_check",
    oracle="""
    WITH ids AS (
      SELECT o_orderkey,
             lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0')
               || lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0') AS acct12
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    digits AS (
      SELECT o_orderkey, acct12, p.i,
             CAST(substr(acct12, CAST(p.i AS INTEGER), 1) AS BIGINT) AS dgt
      FROM ids, (SELECT UNNEST(range(1, 13)) AS i) p
    ),
    folded AS (
      SELECT o_orderkey, acct12,
             CAST(SUM(CASE WHEN (12 - i) % 2 = 1
                  THEN CASE WHEN dgt * 2 > 9 THEN dgt * 2 - 9 ELSE dgt * 2 END
                  ELSE dgt END) AS BIGINT) AS luhn_sum
      FROM digits GROUP BY o_orderkey, acct12
    )
    SELECT o_orderkey, acct12, luhn_sum,
           luhn_sum % 10 = 0 AS luhn_valid
    FROM folded
    """,
)
def q448_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUHN MOD-10 CHECKSUM validation — the data-quality gate every
    ingest of card-like / IMEI-like / account-number identifiers runs
    (ISO/IEC 7812): derive a deterministic 12-digit account string per
    sampled order, double every second digit from the RIGHT (the
    (12−i) mod 2 parity — the off-by-one that breaks most
    hand-rolled Luhns, pinned by the property test), subtract 9 from
    two-digit doublings, and accept iff the sum is ≡ 0 (mod 10). The
    expansion is a bounded 12-row explode per id (position frame, not
    data-dependent), the fold one grouped integer sum — at 100 TB
    this is a map-only validation (q98's PII-scrub shape with
    arithmetic instead of regex). Property tests: a python-stdlib
    Luhn replay agrees on every id; appending the correct check digit
    to any invalid id makes it valid (the generator-vs-validator
    duality); and the valid rate sits near the 1-in-10 a uniform
    checksum implies."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    ids = o.select(
        "o_orderkey",
        F.concat(
            F.lpad((F.col("o_orderkey") % 100000000).cast("string"), 8, "0"),
            F.lpad((F.col("o_custkey") % 10000).cast("string"), 4, "0"),
        ).alias("acct12"),
    )
    digits = ids.select(
        "o_orderkey",
        "acct12",
        F.posexplode(F.split(F.col("acct12"), "(?!^)(?=.)")).alias("i0", "ch"),
    ).select(
        "o_orderkey",
        "acct12",
        (F.col("i0") + 1).alias("i"),
        F.col("ch").cast("long").alias("dgt"),
    )
    folded = digits.groupBy("o_orderkey", "acct12").agg(
        F.sum(
            F.when(
                (12 - F.col("i")) % 2 == 1,
                F.when(F.col("dgt") * 2 > 9, F.col("dgt") * 2 - 9).otherwise(
                    F.col("dgt") * 2
                ),
            ).otherwise(F.col("dgt"))
        )
        .cast("long")
        .alias("luhn_sum")
    )
    return folded.select(
        "o_orderkey",
        "acct12",
        "luhn_sum",
        (F.col("luhn_sum") % 10 == 0).alias("luhn_valid"),
    )


@query(
    "q449_bh_fdr_sign_tests",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    deltas AS (
      SELECT event_type,
             y - lag(y) OVER (PARTITION BY event_type ORDER BY d) AS dy
      FROM daily
    ),
    counts AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k,
             CAST(SUM(CASE WHEN dy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS m
      FROM deltas WHERE dy IS NOT NULL GROUP BY event_type
    ),
    pv AS (
      SELECT event_type, k, m,
             LEAST(2 * list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, CAST(LEAST(k, m - k) AS INTEGER) + 2),
                   j -> list_reduce(
                     list_prepend([CAST(1 AS BIGINT)],
                       list_transform(range(1, CAST(m AS INTEGER) + 1),
                                      x -> [CAST(0 AS BIGINT)])),
                     (acc, x) -> list_append(
                       list_prepend(CAST(1 AS BIGINT),
                         list_transform(range(1, len(acc)),
                                        i -> acc[i] + acc[i + 1])),
                       CAST(1 AS BIGINT)))[CAST(j AS INTEGER)])),
               (a, b) -> a + b), CAST(1 AS BIGINT) << m) AS p_num,
             CAST(1 AS BIGINT) << m AS p_den
      FROM counts
    ),
    ranked AS (
      SELECT event_type, k, m, p_num, p_den,
             ROW_NUMBER() OVER (ORDER BY CAST(p_num AS DOUBLE) / p_den,
                                event_type) AS i
      FROM pv
    ),
    cutoff AS (
      SELECT MAX(CASE WHEN p_num * 50 <= i * p_den THEN i END) AS i_max
      FROM ranked
    )
    SELECT r.event_type, r.k, r.m, r.p_num, r.p_den,
           CAST(r.p_num AS DOUBLE) / r.p_den AS p_value,
           CAST(r.i AS BIGINT) AS p_rank,
           COALESCE(r.i <= c.i_max, FALSE) AS rejected
    FROM ranked r CROSS JOIN cutoff c
    """,
)
def q449_bh_fdr_sign_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR over a family of EXACT sign tests — the
    multiple-testing control q274/q343's single-test machinery needs
    the moment a dashboard tests five metrics at once, done with ZERO
    floating-point inference: per event type, the sign test's
    two-sided p-value is the exact rational min(1, 2·Σ_{j<=min(k,m−k)}
    C(m,j)) / 2^m — the binomial coefficients come from folding the
    PASCAL TRIANGLE as an array recurrence (each step prepends/appends
    1 around pairwise sums of the previous row — the q419 ordered-fold
    pattern with an ARRAY accumulator; both engines build the row
    bit-identically in int64, C(29,14) ≈ 7.7e7 so overflow is
    nowhere near), and the BH step-up comparison p_(i) <= i·α/M
    clears denominators to the INTEGER test p_num·50 <= i·p_den
    (α = 0.1, M = 5 — the q361 cross-multiply rule). Doubles appear
    only to ORDER the p-values (identical doubles both engines,
    event_type tiebreak) and to report. Deltas are day-over-day count
    changes; zeros drop (the q423 convention). Property tests: scipy-
    free python binomial replay of every p-value; BH's step-up
    dominates Bonferroni's single-threshold rejections; and the
    rejected set is a PREFIX of the p-ranking (the step-up
    invariant)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("d")
    deltas = daily.select(
        "event_type", (F.col("y") - F.lag("y").over(w)).alias("dy")
    ).filter(F.col("dy").isNotNull())
    counts = deltas.groupBy("event_type").agg(
        F.sum(F.when(F.col("dy") > 0, 1).otherwise(0)).cast("long").alias("k"),
        F.sum(F.when(F.col("dy") != 0, 1).otherwise(0)).cast("long").alias("m"),
    )
    pascal_row = F.aggregate(
        F.sequence(F.lit(1), F.col("m").cast("int")),
        F.array(F.lit(1).cast("long")),
        lambda acc, x: F.concat(
            F.array(F.lit(1).cast("long")),
            F.zip_with(
                F.slice(acc, 1, F.size(acc) - 1),
                F.slice(acc, 2, F.size(acc) - 1),
                lambda a, b: a + b,
            ),
            F.array(F.lit(1).cast("long")),
        ),
    )
    tail = F.aggregate(
        F.slice(pascal_row, 1, F.least(F.col("k"), F.col("m") - F.col("k")).cast("int") + 1),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    pv = counts.select(
        "event_type",
        "k",
        "m",
        F.least(2 * tail, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))")).alias(
            "p_num"
        ),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))").alias("p_den"),
    )
    wr = Window.orderBy(
        (F.col("p_num").cast("double") / F.col("p_den")), F.col("event_type")
    )
    ranked = pv.withColumn("i", F.row_number().over(wr))
    cutoff = ranked.agg(
        F.max(
            F.when(F.col("p_num") * 50 <= F.col("i") * F.col("p_den"), F.col("i"))
        ).alias("i_max")
    )
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "event_type",
        "k",
        "m",
        "p_num",
        "p_den",
        (F.col("p_num").cast("double") / F.col("p_den")).alias("p_value"),
        F.col("i").cast("long").alias("p_rank"),
        F.coalesce(F.col("i") <= F.col("i_max"), F.lit(False)).alias("rejected"),
    )


# q459 keeps its per-flag rank window while the plan-statistics estimate
# of the pruned fact scan stays at or below this many bytes.
Q459_WINDOW_MAX_BYTES = 16 * 1024 * 1024


@query(
    "q459_spearman_rank_corr",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
               AS dx,
             2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
               AS dy
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DECIMAL(38, 0)) AS n,
             CAST(SUM(CAST(dx AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sx,
             CAST(SUM(CAST(dy AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sy,
             CAST(SUM(CAST(dx AS DECIMAL(38, 0)) * dx) AS DECIMAL(38, 0)) AS sxx,
             CAST(SUM(CAST(dy AS DECIMAL(38, 0)) * dy) AS DECIMAL(38, 0)) AS syy,
             CAST(SUM(CAST(dx AS DECIMAL(38, 0)) * dy) AS DECIMAL(38, 0)) AS sxy
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
    FROM m ORDER BY l_returnflag
    """,
)
def q459_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION of quantity vs extended price, per
    return flag — the robust sibling of q23's Pearson: correlate the
    RANKS, so monotone-but-nonlinear association scores like linear
    association and outliers lose their leverage. Ties take midranks,
    carried DOUBLED (2·RANK_min + tiecount − 1 — q297/q422's
    doubled-midrank trick) so every rank is an exact integer; the four
    moment sums run in DECIMAL(38,0) because n·Σd² overflows int64
    past ~sf0.03; rho touches DOUBLE exactly three times — one cast of
    the exact numerator and one sqrt per variance factor (sqrt(A)·
    sqrt(B), never sqrt(A·B): the PRODUCT would overflow even
    DECIMAL38 while each factor fits). Spearman = Pearson-on-midranks
    identity holds exactly under this encoding. Scale: ranking within
    a group is the classic sort-per-key window; groups here are the
    3-value returnflag enum (each reducer owns one). Round-12 plan
    (guide §2.3/§2.4, measured in ab_q459d_r12.py, deleted; in git
    history at 953e8f3): the
    LOW-CARDINALITY side (l_quantity, 50 distinct × 3 flags = 150
    cells) takes its doubled midranks from a value histogram —
    cum-sum over 150 rows, re-attached by a 150-row broadcast — so
    its full-fact rank window is GONE; the HIGH-CARDINALITY side
    (l_extendedprice, ~unique per row) keeps ONE per-flag rank
    window, because histogramming a ~unique column compresses
    nothing: the r12 joint-histogram attempt carried ~|fact| cells
    through a checkpoint + a fact-sized re-attach shuffle and
    measured 4.45 s vs this form's 3.16 s (committed vs hybrid,
    7-rep interleaved medians; the r11 two-window form sits at
    4.38 s in the same session). For value domains where BOTH sides
    are high-cardinality, the deterministic-bucket two-pass cumsum
    (per-bucket window + broadcast prefix offsets, no per-flag
    reducer sort — `rangecum` in the A/B) is the 100 TB
    form; its bucket key must be arithmetic on the value, never
    repartitionByRange's sampled bounds, which are re-drawn per
    materialization and feed broadcast subtrees inconsistently.

    Round 13 — the plan choice is now SCALE-ADAPTIVE (guide §2.2;
    round rules: scale-dependent settings parameterized, never a
    constant tuned for one deployment). The hybrid's remaining
    per-flag rank window runs ONE TASK PER FLAG (the 3-value enum),
    which is fine while a flag's rows fit one task's sort and a wall
    past that: measured at 32 cores, hybrid wins at sf0.1 (isolated
    3.16 vs 3.84 s) but loses 3.4× at sf1 (12.20 vs 3.55 s) where
    three reducers sort ~2M rows each while 29 cores idle. The
    switch reads the PLAN-STATISTICS estimate of the pruned 3-column
    fact scan (no job runs): ≤ 16 MB (sf0.1 estimates 4.1 MB, sf1
    53.3 MB) → per-flag window; above → bucketed two-pass cumsum
    over the (flag, price) DISTINCT-CELL table, which is bounded by
    the price DOMAIN (~100k values × 3 flags) at every scale. Both
    branches sum the same exact integers in DECIMAL(38,0), so rho is
    bit-identical (exact row parity verified at sf1; the oracle hash
    at sf0.01/0.001 covers the window branch, and
    test_q459_rangecum_branch_parity pins the cumsum branch against
    it at sf0.01). Oracle unchanged, hash-certified; before/after
    plans in plans/r12/ and plans/r13/."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    # quantity-marginal doubled midranks: 150 bounded rows (the window
    # under dxm runs over 50 rows per flag, fixture-bounded)
    qc = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cv")
    )
    wq = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dxm = qc.select(
        "l_returnflag",
        "l_quantity",
        "cv",
        (2 * F.coalesce(F.sum("cv").over(wq), F.lit(0)) + F.col("cv") + 1).alias("dx"),
    )
    fact_bytes = int(
        str(li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if fact_bytes <= Q459_WINDOW_MAX_BYTES:
        m = _q459_window_moments(li, dxm)
    else:
        m = _q459_rangecum_moments(li, dxm)
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                        "double"
                    )
                )
            )
        ).alias("spearman_rho"),
    ).orderBy("l_returnflag")


def _q459_window_moments(li: DataFrame, dxm: DataFrame) -> DataFrame:
    """Hybrid small-scale branch: price doubled midranks from the one
    remaining per-flag rank window (l_extendedprice is ~unique per row —
    a histogram of it is the fact table again, measured slower in r12)."""
    dy = (
        2
        * F.rank().over(
            Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        )
        + F.count(F.lit(1)).over(
            Window.partitionBy("l_returnflag", "l_extendedprice")
        )
        - 1
    )
    rows = li.withColumn("dy", dy.cast("decimal(38,0)")).join(
        F.broadcast(dxm.select("l_returnflag", "l_quantity", "dx")),
        ["l_returnflag", "l_quantity"],
    )
    return rows.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("dx").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )


def _q459_rangecum_moments(li: DataFrame, dxm: DataFrame) -> DataFrame:
    """Scale branch: NO per-flag reducer sort. One fact exchange collapses
    the fact rows to (flag, price) DISTINCT cells (bounded by the price
    domain at any scale) carrying cv and sum-of-dx (dx attached by the
    150-row broadcast BEFORE the collapse); the per-flag running count
    over cells runs as the stable_row_ids two-pass shape — deterministic
    value buckets (arithmetic on the price, never sampled range bounds) +
    per-bucket window + broadcast prefix offsets — parallel over all
    cores instead of 3 reducers. sy/syy/sxy come from the cells (rows
    sharing a price cell share dy, and sxy = Σ sdx·dy); n/sx/sxx come
    from the quantity histogram alone. Same exact integer sums as the
    window branch, so the final rho doubles are bit-identical."""
    D = "decimal(38,0)"
    pc = (
        li.join(
            F.broadcast(dxm.select("l_returnflag", "l_quantity", "dx")),
            ["l_returnflag", "l_quantity"],
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(
            F.count(F.lit(1)).alias("cv"),
            F.sum(F.col("dx").cast(D)).alias("sdx"),
        )
        .withColumn("__bkt", (F.col("l_extendedprice") / 3300.0).cast("int"))
    )
    wl = (
        Window.partitionBy("__bkt", "l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = pc.withColumn("run", F.sum("cv").over(wl))
    tot = loc.groupBy("__bkt", "l_returnflag").agg(F.sum("cv").alias("t"))
    earlier = tot.select(
        F.col("__bkt").alias("__e_bkt"),
        F.col("l_returnflag").alias("__e_flag"),
        F.col("t").alias("__e_t"),
    )
    offsets = (
        tot.join(
            F.broadcast(earlier),
            (F.col("__e_flag") == F.col("l_returnflag"))
            & (F.col("__e_bkt") < F.col("__bkt")),
            "left",
        )
        .groupBy("__bkt", "l_returnflag")
        .agg(F.coalesce(F.sum("__e_t"), F.lit(0)).cast("long").alias("base"))
    )
    cells = loc.join(F.broadcast(offsets), ["__bkt", "l_returnflag"]).select(
        "l_returnflag",
        "cv",
        "sdx",
        (
            2 * (F.col("base") + F.col("run") - F.col("cv")) + F.col("cv") + 1
        ).cast(D).alias("dy"),
    )
    my = cells.groupBy("l_returnflag").agg(
        F.sum(F.col("cv").cast(D) * F.col("dy")).cast(D).alias("sy"),
        F.sum(F.col("cv").cast(D) * F.col("dy") * F.col("dy")).cast(D).alias("syy"),
        F.sum(F.col("sdx") * F.col("dy")).cast(D).alias("sxy"),
    )
    mx = dxm.groupBy("l_returnflag").agg(
        F.sum("cv").cast(D).alias("n"),
        F.sum(F.col("cv").cast(D) * F.col("dx").cast(D)).cast(D).alias("sx"),
        F.sum(
            F.col("cv").cast(D) * F.col("dx").cast(D) * F.col("dx").cast(D)
        ).cast(D).alias("sxx"),
    )
    return mx.join(my, "l_returnflag")


@query(
    "q460_kruskal_wallis",
    oracle="""
    WITH pop AS (
      SELECT o.o_orderpriority AS grp, l.l_quantity AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS nv FROM pop GROUP BY v),
    dmr AS (
      SELECT v, nv,
             2 * COALESCE(CAST(SUM(nv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS BIGINT), 0) + nv + 1 AS d
      FROM vc
    ),
    gv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM pop GROUP BY grp, v),
    gs AS (
      SELECT grp,
             CAST(SUM(c) AS DECIMAL(38, 0)) AS n_i,
             CAST(SUM(CAST(c AS DECIMAL(38, 0)) * COALESCE(d.d, 0))
                  AS DECIMAL(38, 0)) AS s_i
      FROM gv LEFT JOIN dmr d ON d.v = gv.v
      GROUP BY grp
    ),
    piv AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             SUM(CASE WHEN grp = '1-URGENT'
                 THEN CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 4 END)
           + SUM(CASE WHEN grp = '2-HIGH'
                 THEN CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 4 END)
           + SUM(CASE WHEN grp = '3-MEDIUM'
                 THEN CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 4 END)
           + SUM(CASE WHEN grp = '4-NOT SPECIFIED'
                 THEN CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 4 END)
           + SUM(CASE WHEN grp = '5-LOW'
                 THEN CAST(s_i * s_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 4 END)
             AS rterm
      FROM gs
    ),
    ties AS (
      SELECT CAST(SUM(CAST(nv AS DECIMAL(38, 0)) * nv * nv - nv)
                  AS DECIMAL(38, 0)) AS tsum
      FROM vc
    )
    SELECT p.n,
           12.0 * p.rterm / (CAST(p.n AS DOUBLE) * (CAST(p.n AS DOUBLE) + 1.0))
             - 3.0 * (CAST(p.n AS DOUBLE) + 1.0) AS h,
           CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n - t.tsum AS DOUBLE)
             / CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n AS DOUBLE)
             AS tie_c,
           (12.0 * p.rterm / (CAST(p.n AS DOUBLE) * (CAST(p.n AS DOUBLE) + 1.0))
             - 3.0 * (CAST(p.n AS DOUBLE) + 1.0))
           / (CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n - t.tsum AS DOUBLE)
              / CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n AS DOUBLE))
             AS h_adj,
           (12.0 * p.rterm / (CAST(p.n AS DOUBLE) * (CAST(p.n AS DOUBLE) + 1.0))
             - 3.0 * (CAST(p.n AS DOUBLE) + 1.0))
           / (CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n - t.tsum AS DOUBLE)
              / CAST(CAST(p.n AS DECIMAL(38, 0)) * p.n * p.n - p.n AS DOUBLE))
             > 9.488 AS significant_5pct
    FROM piv p CROSS JOIN ties t
    """,
)
def q460_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS rank ANOVA — does order priority shift the
    QUANTITY DISTRIBUTION (not just its mean, q323's parametric
    question): H = 12/(N(N+1))·Σ(ΣR_i)²/n_i − 3(N+1) on midranks,
    tie-corrected by C = 1 − Σ(t³−t)/(N³−N), against the χ²(4) 5%%
    line 9.488 (a literal — no gamma functions). The midranks never
    come from a sort: l_quantity is a 50-value discrete domain, so
    doubled midranks derive from the VALUE HISTOGRAM
    (d(v) = 2·cum_below + nv + 1) — a 50-row aggregate any window can
    walk — then broadcast back onto per-(group,value) counts. That
    histogram-rank trick is the 100 TB plan stated by q459 executed
    here: NO global window over N rows exists in this lineage; the
    only N-sized shuffles are the two groupBys. Per-group rank sums
    S_i = Σc·d run in DECIMAL(38,0) (S_i² overflows int64 past
    ~sf0.05); the five S_i²/n_i terms pivot to one row and fold in
    literal priority order so both engines execute one fixed IEEE
    expression (Σ(d/2)²/n = ΣS_i²/(4n_i) — the /4 applied per term).
    Property anchor: with every value distinct C=1 and H reduces to
    the textbook statistic; priorities are assigned independently of
    quantity in this generator, so 'not significant' is the expected
    verdict — the query is the instrument, the fixture calibrates it."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_quantity").alias("v")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("grp")
    )
    pop = li.join(o, li.l_orderkey == o.o_orderkey).select("grp", "v")
    vc = pop.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    dmr = vc.select(
        "v",
        "nv",
        (2 * F.coalesce(F.sum("nv").over(w), F.lit(0)) + F.col("nv") + 1).alias("d"),
    )
    gv = pop.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gs = (
        gv.join(F.broadcast(dmr.select("v", "d")), "v", "left")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("decimal(38,0)").alias("n_i"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.coalesce("d", F.lit(0)))
            .cast("decimal(38,0)")
            .alias("s_i"),
        )
    )
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rterm = None
    for p in prios:
        t = F.sum(
            F.when(
                F.col("grp") == p,
                (F.col("s_i") * F.col("s_i")).cast("double")
                / F.col("n_i").cast("double")
                / 4,
            )
        )
        rterm = t if rterm is None else rterm + t
    piv = gs.agg(
        F.sum("n_i").cast("long").alias("n"), rterm.alias("rterm")
    )
    ties = vc.agg(
        F.sum(
            F.col("nv").cast("decimal(38,0)") * F.col("nv") * F.col("nv")
            - F.col("nv")
        )
        .cast("decimal(38,0)")
        .alias("tsum")
    )
    nd = F.col("n").cast("double")
    cub = F.col("n").cast("decimal(38,0)") * F.col("n") * F.col("n") - F.col("n")
    h = 12.0 * F.col("rterm") / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)
    tie_c = (cub - F.col("tsum")).cast("double") / cub.cast("double")
    return piv.crossJoin(F.broadcast(ties)).select(
        "n",
        h.alias("h"),
        tie_c.alias("tie_c"),
        (h / tie_c).alias("h_adj"),
        (h / tie_c > 9.488).alias("significant_5pct"),
    )


@query(
    "q478_cramer_von_mises",
    oracle="""
    WITH pooled AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey AS k
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
      SELECT grp,
             CAST(ROW_NUMBER() OVER (ORDER BY v, k) AS BIGINT) AS r,
             CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, k)
                  AS BIGINT) AS i
      FROM pooled
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS m,
        CAST(SUM(CASE WHEN grp = '1-URGENT'
                 THEN CAST((r - i) AS DECIMAL(38, 0)) * (r - i) END)
             AS DECIMAL(38, 0)) AS sx,
        CAST(SUM(CASE WHEN grp = '5-LOW'
                 THEN CAST((r - i) AS DECIMAL(38, 0)) * (r - i) END)
             AS DECIMAL(38, 0)) AS sy
      FROM ranked
    )
    SELECT n, m,
           CAST(CAST(n * sx + m * sy AS DECIMAL(38,0)) AS VARCHAR) AS u,
           CAST(CAST(n * sx + m * sy AS DECIMAL(38, 0)) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))
           - (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)
             / (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))) AS t_cvm,
           CAST(CAST(n * sx + m * sy AS DECIMAL(38, 0)) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE)))
           - (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)
             / (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))) < 0.461
             AS same_distribution_5pct
    FROM agg
    """,
)
def q478_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR–VON MISES TWO-SAMPLE TEST — do urgent and low-priority
    orders draw their totals from the same distribution, judged by the
    INTEGRAL of the squared ECDF gap (where q218's KS reads only the
    supremum — CvM sees distributed small departures KS misses; the
    pair completes the EDF-test family). Anderson's rank form keeps it
    exact: with pooled ranks r_i and within-sample indices i,
    U = n·Σ_x(r_i − i)² + m·Σ_y(s_j − j)² is an exact integer
    (DECIMAL(38,0) accumulators; U ~ n⁴ exceeds int64 already at sf1 —
    the r11 soak measured 5.4e21 — so the output ships as U's plain
    decimal STRING, exact at any scale and in the driver-hasher-safe
    scalar set) and
    T = U/(nmN) − (4nm−1)/(6N) touches DOUBLE in one fixed
    expression, against the asymptotic 5%% literal 0.461. Rank ties
    (one duplicate totalprice exists at sf0.01) are broken by
    orderkey — the SAME total order in both engines and in the test's
    Python replay, the documented convention for a continuous-data
    statistic on stored doubles. The pooled rank is the one global
    sort (the q459 caveat: at scale these ranks come from the q74
    two-pass histogram form); everything after is one aggregate.
    Tests replay U and T from scratch and anchor both directions:
    identical samples give T at its minimum, disjoint shifted samples
    blow past the critical value."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pooled = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = pooled.select(
        "grp",
        F.row_number().over(Window.orderBy("v", "k")).cast("long").alias("r"),
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("v", "k"))
        .cast("long")
        .alias("i"),
    )
    d = (F.col("r") - F.col("i")).cast("decimal(38,0)")
    agg = ranked.agg(
        F.sum(F.when(F.col("grp") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(F.col("grp") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.sum(F.when(F.col("grp") == "1-URGENT", d * (F.col("r") - F.col("i"))))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(F.when(F.col("grp") == "5-LOW", d * (F.col("r") - F.col("i"))))
        .cast("decimal(38,0)")
        .alias("sy"),
    )
    nd, md = F.col("n").cast("double"), F.col("m").cast("double")
    u = (F.col("n") * F.col("sx") + F.col("m") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    t = u.cast("double") / (nd * md * (nd + md)) - (4.0 * nd * md - 1.0) / (
        6.0 * (nd + md)
    )
    # sx/sy accumulate in DECIMAL(38,0); u itself is ~n^4 and OVERFLOWS
    # int64 already at sf1 (the r11 soak threw CAST_OVERFLOW at 5.4e21),
    # so unlike the rest of the r11 BIGINT-output class the exact
    # integer ships as its plain decimal STRING — VARCHAR is in the
    # driver-hasher-safe scalar set, both engines render DECIMAL(38,0)
    # as bare digits, and exactness survives any scale.
    return agg.select(
        "n", "m", u.cast("string").alias("u"), t.alias("t_cvm"),
        (t < 0.461).alias("same_distribution_5pct"),
    )


@query(
    "q484_effect_sizes",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN grp = '1-URGENT' THEN cents ELSE 0 END) AS BIGINT)
          AS s1,
        CAST(SUM(CASE WHEN grp = '5-LOW' THEN cents ELSE 0 END) AS BIGINT)
          AS s2,
        CAST(SUM(CASE WHEN grp = '1-URGENT'
                 THEN CAST(cents AS DECIMAL(38, 0)) * cents END)
             AS DECIMAL(38, 0)) AS q1,
        CAST(SUM(CASE WHEN grp = '5-LOW'
                 THEN CAST(cents AS DECIMAL(38, 0)) * cents END)
             AS DECIMAL(38, 0)) AS q2
      FROM g
    )
    SELECT n1, n2,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 100
             AS mean_diff_dollars,
           (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
           / sqrt((CAST(CAST(n1 AS DECIMAL(38, 0)) * q1 - CAST(s1 AS DECIMAL(38, 0)) * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)
                   + CAST(CAST(n2 AS DECIMAL(38, 0)) * q2 - CAST(s2 AS DECIMAL(38, 0)) * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
             AS cohen_d,
           ((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
           / sqrt((CAST(CAST(n1 AS DECIMAL(38, 0)) * q1 - CAST(s1 AS DECIMAL(38, 0)) * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)
                   + CAST(CAST(n2 AS DECIMAL(38, 0)) * q2 - CAST(s2 AS DECIMAL(38, 0)) * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))
           * (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 9.0))
             AS hedges_g,
           abs((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
           / sqrt((CAST(CAST(n1 AS DECIMAL(38, 0)) * q1 - CAST(s1 AS DECIMAL(38, 0)) * s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)
                   + CAST(CAST(n2 AS DECIMAL(38, 0)) * q2 - CAST(s2 AS DECIMAL(38, 0)) * s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))) < 0.2
             AS negligible_effect
    FROM m
    """,
)
def q484_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDARDIZED EFFECT SIZES — Cohen's d with Hedges' small-sample
    correction g = d·(1 − 3/(4N−9)): the magnitude report that belongs
    NEXT TO q144's Welch t-test, because with 3k orders per arm even a
    $2 mean gap is 'significant' while being operationally nothing —
    effect size is the number a decision should read. All moments run
    in integer cents (DECIMAL38 for n·Σx² − (Σx)², the q459 overflow
    rule), the pooled SD uses the exact centered-sum identity divided
    once by (n₁+n₂−2), and the single sqrt is the only transcendental
    (the correction factor is the standard rational approximation of
    the exact gamma ratio — a LITERAL formula, not a gamma call).
    Cohen's 0.2 'small' line gates `negligible_effect`, and on this
    generator — priorities drawn independently of totals — the honest
    verdict is 'negligible', which the test pins along with a full
    Python recompute and g < d (the correction always shrinks)."""
    g = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    m = g.agg(
        F.sum(F.when(F.col("grp") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == "1-URGENT", F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("grp") == "5-LOW", F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(
                F.col("grp") == "1-URGENT",
                F.col("cents").cast("decimal(38,0)") * F.col("cents"),
            )
        )
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(
            F.when(
                F.col("grp") == "5-LOW",
                F.col("cents").cast("decimal(38,0)") * F.col("cents"),
            )
        )
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    diff = F.col("s1").cast("double") / n1d - F.col("s2").cast("double") / n2d
    css1 = (
        F.col("n1").cast("decimal(38,0)") * F.col("q1")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    ).cast("double") / n1d
    css2 = (
        F.col("n2").cast("decimal(38,0)") * F.col("q2")
        - F.col("s2").cast("decimal(38,0)") * F.col("s2")
    ).cast("double") / n2d
    d = diff / F.sqrt((css1 + css2) / (n1d + n2d - 2.0))
    gg = d * (1.0 - 3.0 / (4.0 * (n1d + n2d) - 9.0))
    return m.select(
        "n1",
        "n2",
        (diff / 100).alias("mean_diff_dollars"),
        d.alias("cohen_d"),
        gg.alias("hedges_g"),
        (F.abs(d) < 0.2).alias("negligible_effect"),
    )
