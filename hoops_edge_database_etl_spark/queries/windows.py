"""Window / ordered / sessionization operators (SURVEY.md §2.5 W1–W14).

The reference implemented every one of these as an order-dependent Python
scan over pre-sorted lists (e.g. the 200-LoC cumulative daily rollup,
build_pbp_team_daily_rollup.py:179-396). Here each is a declarative window
spec, so the sort happens once per partition inside the shuffle and the
running state is computed by Tungsten, not the driver.

Scale notes baked into each query:
- Every window is partitioned by a key (user/customer/type) unless the
  windowed input is already a tiny aggregate (a global date spine of a few
  thousand rows) — a global window over raw rows would serialize 100 TB
  through one task.
- Orderings always carry a unique tiebreak column (orderkey/event_id) so
  frames are total orders — required for oracle determinism (SURVEY.md §7
  "Determinism for the oracle").
- Running sums/avgs accumulate in DECIMAL and cast to DOUBLE at the edge,
  exactly like the aggregate module, so results are partition-count-invariant.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DEC = "decimal(18,2)"


@query(
    "q31_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS DOUBLE) AS cum_spend
    FROM orders
    """,
)
def q31_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative running total per key (W6: the reference's season-to-date
    rollup of 35 stats, build_pbp_team_daily_rollup.py:252-396). One shuffle
    on the partition key; the running state never touches the driver."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("cum_spend"),
    )


@query(
    "q32_date_spine_rollup",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
    ), spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), daily AS (
      SELECT o_orderdate AS day, COUNT(*) AS n FROM orders GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders,
           CAST(SUM(COALESCE(d.n, 0)) OVER (ORDER BY s.day) AS BIGINT) AS cum_orders
    FROM spine s LEFT JOIN daily d USING (day)
    """,
)
def q32_date_spine_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification — a row for EVERY day between min and max, with
    zero-filled counts and a running cumulative (W6's date spine,
    build_pbp_team_daily_rollup.py:179-250). The spine is sequence+explode of
    a 1-row aggregate (a few thousand rows at any data scale), so the
    spine-side join is a broadcast and the global window is safe."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(daily, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_filled"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_filled").cast("bigint").alias("n_orders"),
            F.sum("n_filled").over(w).cast("bigint").alias("cum_orders"),
        )
    )


@query(
    "q33_no_leakage_expanding",
    oracle="""
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_sum,
             COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS n_prior
      FROM orders
    )
    SELECT o_custkey, o_orderkey, CAST(n_prior AS BIGINT) AS n_prior,
           CAST(prior_sum AS DOUBLE) / NULLIF(n_prior, 0) AS prior_avg_spend
    FROM w
    """,
)
def q33_no_leakage_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-prior expanding window — each row sees only earlier rows
    (W7: "Prior games only for no leakage",
    build_pbp_team_daily_rollup_adj.py:258). rowsBetween(unboundedPreceding,
    -1) is the whole trick; avg computed as exact-decimal sum / count."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_sum = F.sum(F.col("o_totalprice").cast(DEC)).over(w)
    n_prior = F.count(F.lit(1)).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        n_prior.cast("bigint").alias("n_prior"),
        (prior_sum.cast("double") / F.nullif(n_prior, F.lit(0))).alias(
            "prior_avg_spend"
        ),
    )


@query(
    "q34_latest_per_group",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate,
           CAST(o_totalprice AS DOUBLE) AS latest_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
      ) AS rn
      FROM orders
    )
    WHERE rn = 1
    """,
)
def q34_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-group (W8: latest pollDate per pollType / latest asof scan,
    gold/team_power_rankings.py:113-127, backtest_spreads.py:69-78).
    row_number over a descending total order, keep rn=1 — the deterministic
    replacement for the reference's sort-then-take-first."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
            F.col("o_totalprice").cast("double").alias("latest_totalprice"),
        )
    )


@query(
    "q35_percentile_composite",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT c.c_custkey,
             PERCENT_RANK() OVER (ORDER BY c.c_acctbal) * 100 AS pct_acctbal,
             CASE WHEN s.o_custkey IS NOT NULL THEN
               PERCENT_RANK() OVER (
                 PARTITION BY (s.o_custkey IS NOT NULL) ORDER BY s.total_spend
               ) * 100
             END AS pct_spend
      FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    )
    SELECT c_custkey, pct_acctbal, pct_spend,
           CASE WHEN pct_spend IS NULL THEN pct_acctbal
                ELSE (pct_acctbal + pct_spend) / 2 END AS composite_pct
    FROM ranked
    """,
)
def q35_percentile_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank composite averaged over available metrics (W9:
    gold/team_power_rankings.py:263-296 — dense-rank→0-100 percentile per
    metric, mean of non-null percentiles).

    r10 (global-window audit): the global percent_rank windows over the
    customer-proportional table were the entity-rank hazard class. Same
    math, distributed: PERCENT_RANK = (rank−1)/(n−1) where rank is the
    MIN row number among order-value ties — row numbers come from
    operators.rowids.stable_row_ids (range partition + prefix offsets),
    the tie-min from a value-keyed window (hash-wide, never a single
    reducer), n from a value-pure count. The spend percentile ranks the
    with-spend subset only and joins back on custkey."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("total_spend")
    )
    j = c.join(spend, c.c_custkey == spend.o_custkey, "left")

    def pct_col(df, value_col, key_col):
        """(rank_with_ties − 1)/(n − 1) · 100 over df's value_col."""
        ids = stable_row_ids(df, [value_col, key_col], id_col="__pr_rn", start=1)
        rank = F.min("__pr_rn").over(Window.partitionBy(value_col))
        n_row = df.agg(F.count(F.lit(1)).cast("long").alias("__pr_n"))
        return (
            ids.withColumn("__pr_rank", rank)
            .crossJoin(F.broadcast(n_row))
            .withColumn(
                "__pct",
                F.when(
                    F.col("__pr_n") > 1,
                    (F.col("__pr_rank") - 1).cast("double")
                    / (F.col("__pr_n") - 1)
                    * 100,
                ).otherwise(F.lit(0.0)),
            )
            .drop("__pr_rn", "__pr_rank", "__pr_n")
        )

    bal = pct_col(
        j.select("c_custkey", "c_acctbal", "o_custkey", "total_spend"),
        "c_acctbal",
        "c_custkey",
    ).withColumnRenamed("__pct", "pct_acctbal")
    sp = (
        pct_col(
            bal.filter(F.col("o_custkey").isNotNull()).select(
                F.col("c_custkey").alias("__sp_key"), "total_spend"
            ),
            "total_spend",
            "__sp_key",
        )
        .select("__sp_key", F.col("__pct").alias("pct_spend"))
    )
    ranked = bal.join(sp, bal.c_custkey == sp.__sp_key, "left").select(
        "c_custkey", "pct_acctbal", "pct_spend"
    )
    return ranked.select(
        "c_custkey",
        "pct_acctbal",
        "pct_spend",
        F.when(F.col("pct_spend").isNull(), F.col("pct_acctbal"))
        .otherwise((F.col("pct_acctbal") + F.col("pct_spend")) / 2)
        .alias("composite_pct"),
    )


@query(
    "q36_interval_integration",
    oracle="""
    WITH g AS (
      SELECT user_id, event_type,
             epoch_us(LEAD(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             )) - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN gap_us END) AS BIGINT)
             AS view_dwell_us,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
             AS n_view_gaps
    FROM g
    GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'view' THEN gap_us END) IS NOT NULL
    """,
)
def q36_interval_integration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise clock-interval summation — time attributed to the state at
    the START of each interval (W5: garbage-minutes integration via lead(),
    build_pbp_game_teams_flat.py:301-314). Exact integer microseconds, no
    float accumulation."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    is_view = F.col("event_type") == "view"
    return (
        ev.select("user_id", "event_type", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(is_view, F.col("gap_us"))).cast("bigint").alias("view_dwell_us"),
            F.count(F.when(is_view, F.lit(1))).cast("bigint").alias("n_view_gaps"),
        )
        .filter(F.col("view_dwell_us").isNotNull())
    )


@query(
    "q37_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                     - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER (
                         PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                       )) >= 1800000000
                  OR LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q37_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with Spark's native session_window (W2's
    scalable core: possession sessionization,
    build_pbp_plays_enriched.py:181-276 — the order-dependent variant lives
    in operators.sessionize). session_window(ts, gap) merges events closer
    than the gap; window end = last event + gap, matching the cumulative-flag
    SQL formulation exactly."""
    ev = load(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@query(
    "q38_lag_delta",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(revenue - LAG(revenue) OVER (ORDER BY day) AS DOUBLE) AS revenue_delta
    FROM daily
    """,
)
def q38_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta via lag() on a pre-aggregated daily series. The
    global window runs AFTER aggregation (one row per calendar day — a few
    thousand rows at any scale), never over raw facts."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue")
    )
    w = Window.orderBy("day")
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("revenue").cast("double").alias("revenue"),
        (F.col("revenue") - F.lag("revenue").over(w)).cast("double").alias(
            "revenue_delta"
        ),
    )


@query(
    "q39_moving_average",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_events,
           AVG(CAST(n AS DOUBLE)) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS ma7
    FROM daily
    """,
)
def q39_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row moving average per group over a pre-aggregated daily
    series (the rolling-window shape underlying W6's ratio columns)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n_events"),
        F.avg(F.col("n").cast("double")).over(w).alias("ma7"),
    )


@query(
    "q40_first_last_value",
    oracle="""
    SELECT o_custkey,
           MAX(CASE WHEN rn_asc = 1 THEN o_orderpriority END) AS first_priority,
           MAX(CASE WHEN rn_desc = 1 THEN o_orderpriority END) AS last_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (
      SELECT o_custkey, o_orderpriority,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ) AS rn_asc,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn_desc
      FROM orders
    )
    GROUP BY o_custkey
    """,
)
def q40_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last value per group under a total order, in one pass (the
    reference's first-occurrence dedup + latest-asof pickers, D2/W8). Both
    row_numbers share one shuffle (same partition key) and the final groupBy
    re-uses that partitioning — no second exchange."""
    o = load(spark, sf_dir, "orders")
    asc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    desc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderpriority",
            F.row_number().over(asc).alias("rn_asc"),
            F.row_number().over(desc).alias("rn_desc"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn_asc") == 1, F.col("o_orderpriority"))).alias(
                "first_priority"
            ),
            F.max(F.when(F.col("rn_desc") == 1, F.col("o_orderpriority"))).alias(
                "last_priority"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )


@query(
    "q91_gapfill_interpolate",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
    ), spine0 AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), pr AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
    spine AS (SELECT prio, day FROM pr CROSS JOIN spine0),
    daily AS (
      SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR(64))
                  AS DOUBLE) AS val
      FROM orders GROUP BY 1, 2
    ),
    g AS (
      SELECT s.prio, s.day, d.val,
        last_value(d.val IGNORE NULLS) OVER (
          PARTITION BY s.prio ORDER BY s.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN d.val IS NOT NULL THEN s.day END IGNORE NULLS) OVER (
          PARTITION BY s.prio ORDER BY s.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(d.val IGNORE NULLS) OVER (
          PARTITION BY s.prio ORDER BY s.day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN d.val IS NOT NULL THEN s.day END IGNORE NULLS) OVER (
          PARTITION BY s.prio ORDER BY s.day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM spine s LEFT JOIN daily d ON d.prio = s.prio AND d.day = s.day
    )
    SELECT prio, strftime(day, '%Y-%m-%d') AS day,
           CAST(CASE WHEN val IS NOT NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_interpolated,
           CASE WHEN val IS NOT NULL THEN val
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                ELSE pv + (nv - pv)
                     * (CAST(date_diff('day', pd, day) AS DOUBLE)
                        / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END AS filled
    FROM g
    """,
)
def q91_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair with LINEAR INTERPOLATION: daily revenue per
    order priority on a dense calendar spine; days with no orders get the
    straight-line value between their nearest present neighbors (edges
    before the first / after the last observation stay NULL, flagged by
    is_interpolated). The forward/backward scans are last/first with
    ignorenulls over per-priority windows — each stratum is bounded by
    the DATE RANGE, not the row count, so the windows stay driver-tiny
    at any data scale; the only full-data pass is the map-side-combining
    daily aggregate. Present-day values bridge decimal→string→double
    (q23 rule); the interpolation itself is a fixed IEEE op chain both
    engines execute identically."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
    spine0 = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    ).select(F.col("day").cast("date").alias("day"))
    pr = o.select(F.col("o_orderpriority").alias("prio")).distinct()
    spine = pr.crossJoin(F.broadcast(spine0))
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("string").cast("double").alias("val")
    )
    g = spine.join(daily, ["prio", "day"], "left")
    wb = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if_val = F.when(F.col("val").isNotNull(), F.col("day"))
    g = (
        g.withColumn("pv", F.last("val", ignorenulls=True).over(wb))
        .withColumn("pd", F.last(day_if_val, ignorenulls=True).over(wb))
        .withColumn("nv", F.first("val", ignorenulls=True).over(wf))
        .withColumn("nd", F.first(day_if_val, ignorenulls=True).over(wf))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.datediff(F.col("day"), F.col("pd")).cast("double")
        / F.datediff(F.col("nd"), F.col("pd")).cast("double")
    )
    filled = (
        F.when(F.col("val").isNotNull(), F.col("val"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None).cast("double"))
        .otherwise(interp)
    )
    return g.select(
        "prio",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("val").isNotNull(), 0).otherwise(1).cast("bigint")
          .alias("is_interpolated"),
        filled.alias("filled"),
    )


@query(
    "q113_possession_sessionize",
    oracle="""
    WITH RECURSIVE plays AS (
      SELECT CAST(l_orderkey % 500 AS BIGINT) AS game_id,
             CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS play_id,
             CAST(1 + (l_partkey + l_linenumber) % 4 AS INTEGER) AS period,
             CAST((l_orderkey % 500) * 2 + (l_orderkey + l_linenumber) % 2
                  AS BIGINT) AS team_id,
             CASE (l_orderkey * 3 + l_linenumber * 5) % 12
               WHEN 0 THEN 'made_shot' WHEN 1 THEN 'made_shot'
               WHEN 2 THEN 'missed_shot' WHEN 3 THEN 'missed_shot'
               WHEN 4 THEN 'turnover'
               WHEN 5 THEN 'defensive_rebound' WHEN 6 THEN 'defensive_rebound'
               WHEN 7 THEN 'offensive_rebound'
               WHEN 8 THEN 'made_last_ft' WHEN 9 THEN 'made_ft'
               WHEN 10 THEN 'missed_ft' ELSE 'other' END AS play_kind,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey % 500
               ORDER BY 1 + (l_partkey + l_linenumber) % 4 ASC,
                        (l_partkey * 7 + l_orderkey) % 720 DESC,
                        l_orderkey * 8 + l_linenumber ASC) AS rn
      FROM lineitem
    ),
    st AS (
      SELECT game_id, CAST(0 AS BIGINT) AS rn,
             CAST(0 AS BIGINT) AS poss_id,
             CAST(NULL AS BIGINT) AS offense,
             TRUE AS pending_new,
             CAST(NULL AS BIGINT) AS pending_offense,
             CAST(NULL AS INTEGER) AS prev_period,
             FALSE AS p_end,
             CAST(NULL AS BIGINT) AS play_id
      FROM (SELECT DISTINCT game_id FROM plays)
      UNION ALL
      SELECT game_id, rn,
             CASE WHEN opens THEN poss_id + 1 ELSE poss_id END AS poss_id,
             CASE WHEN opens THEN COALESCE(po1, team_id) ELSE offense
                  END AS offense,
             CASE WHEN play_kind IN ('made_shot', 'turnover', 'made_last_ft',
                                     'defensive_rebound', 'period_end')
                  THEN TRUE ELSE (NOT opens AND pn1) END AS pending_new,
             CASE WHEN play_kind = 'defensive_rebound' THEN team_id
                  WHEN opens THEN NULL ELSE po1 END AS pending_offense,
             period AS prev_period,
             (play_kind IN ('made_shot', 'turnover', 'made_last_ft',
                            'defensive_rebound', 'period_end')
              AND (CASE WHEN opens THEN COALESCE(po1, team_id) ELSE offense
                   END) IS NOT NULL) AS p_end,
             play_id
      FROM (
        SELECT p.game_id, p.rn, p.play_id, p.period, p.team_id, p.play_kind,
               s.poss_id, s.offense,
               (s.pending_new OR (s.prev_period IS NOT NULL
                                  AND p.period <> s.prev_period)) AS pn1,
               CASE WHEN s.prev_period IS NOT NULL AND p.period <> s.prev_period
                    THEN NULL ELSE s.pending_offense END AS po1,
               ((s.pending_new OR (s.prev_period IS NOT NULL
                                   AND p.period <> s.prev_period))
                AND p.play_kind NOT IN ('period_end', 'other')) AS opens
        FROM st s JOIN plays p ON p.game_id = s.game_id AND p.rn = s.rn + 1
      )
    )
    SELECT game_id, play_id, poss_id AS possession_id,
           offense AS offense_team_id, p_end AS possession_end
    FROM st WHERE rn >= 1
    """,
)
def q113_possession_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survey's crown-jewel state machine (W2/W3) under the hard oracle
    gate (VERDICT r3 item 2): a deterministic synthetic play stream derived
    arithmetically from lineitem (500 games, two teams each, 12-way play
    vocabulary) runs through operators.sessionize.possession_sessionize.
    Its defensive-rebound offense transfer and period-boundary close look
    history-dependent (reference: build_pbp_plays_enriched.py:181-276), but
    each transition reads at most two earlier plays — the last non-`other`
    play and the last action — so the scan is one window pass of
    last(…, ignorenulls) over the preceding rows plus running count/last.
    The DuckDB oracle replays the transition function itself as a
    recursive CTE advancing one play per game per step (depth = max plays
    per game, ~130 at sf0.01; every game advances in parallel within a
    step), so possession ids, offense attribution, and end flags are
    hash-compared play-by-play — not just possession counts.

    Scale: parallelism = games; one shuffle on game_id, then codegen'd
    window operators, no Python. The recursive CTE is the ORACLE ONLY —
    the Spark plan has no iteration."""
    from hoops_edge_database_etl_spark.operators.sessionize import (
        possession_sessionize,
    )

    li = load(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") * 3 + F.col("l_linenumber") * 5) % 12
    kind = (
        F.when(k.isin(0, 1), "made_shot")
        .when(k.isin(2, 3), "missed_shot")
        .when(k == 4, "turnover")
        .when(k.isin(5, 6), "defensive_rebound")
        .when(k == 7, "offensive_rebound")
        .when(k == 8, "made_last_ft")
        .when(k == 9, "made_ft")
        .when(k == 10, "missed_ft")
        .otherwise("other")
    )
    plays = li.select(
        (F.col("l_orderkey") % 500).cast("long").alias("game_id"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias("play_id"),
        (1 + (F.col("l_partkey") + F.col("l_linenumber")) % 4).cast("int").alias("period"),
        ((F.col("l_partkey") * 7 + F.col("l_orderkey")) % 720)
        .cast("long")
        .alias("seconds_remaining"),
        ((F.col("l_orderkey") % 500) * 2 + (F.col("l_orderkey") + F.col("l_linenumber")) % 2)
        .cast("long")
        .alias("team_id"),
        kind.alias("play_kind"),
    )
    out = possession_sessionize(plays)
    return out.select(
        "game_id", "play_id", "possession_id", "offense_team_id", "possession_end"
    )


# ---------------------------------------------------------------------------
# Clamped running balance (q185): inventory / queue-depth semantics — the
# balance can never go below zero (you cannot ship stock you don't have).
# The recurrence C_i = max(C_{i-1} + x_i, 0) looks inherently sequential;
# Lindley's identity C_i = S_i − min(0, min_{j≤i} S_j) turns it into TWO
# plain window aggregates. The oracle runs the RECURRENCE itself (DuckDB
# recursive CTE) — a different algorithm proving the identity.
# ---------------------------------------------------------------------------


@query(
    "q185_clamped_balance",
    oracle="""
    WITH RECURSIVE flow AS (
      SELECT l_suppkey AS s, CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT)
                           ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS net
      FROM lineitem GROUP BY 1, 2
    ),
    idx AS (
      SELECT s, day, net,
             ROW_NUMBER() OVER (PARTITION BY s ORDER BY day) AS i
      FROM flow
    ),
    walk AS (
      SELECT s, i, net, GREATEST(net, 0) AS c FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.s, idx.i, idx.net, GREATEST(walk.c + idx.net, 0)
      FROM walk JOIN idx ON idx.s = walk.s AND idx.i = walk.i + 1
    )
    SELECT s AS l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(CASE WHEN i = mx THEN c END) AS BIGINT) AS final_balance,
           CAST(MAX(c) AS BIGINT) AS max_balance,
           CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_days
    FROM (SELECT *, MAX(i) OVER (PARTITION BY s) AS mx FROM walk)
    GROUP BY s
    """,
)
def q185_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-clamped running inventory per supplier (daily net flow:
    +quantity on open lines, −quantity on finished), WITHOUT the
    sequential recurrence: Lindley's identity C_i = S_i − min(0, minₚᵣₑ S)
    — the waiting-time solution from queueing theory — computes the
    clamped walk from a running SUM and a running MIN, two ordinary
    window aggregates over the bounded per-supplier daily series. The
    oracle executes the recurrence itself as a DuckDB recursive CTE, so
    the hash match PROVES the identity on this data rather than assuming
    it. Output is the bounded per-supplier audit (final/max balance,
    stock-out days).

    At 100 TB: the fact table reduces map-side to supplier-day rows
    first (the q167/q178 contract); the two windows then scan each
    supplier's ≤ days-of-history rows once. The recurrence form would
    force a driver loop or applyInPandas; the identity keeps it in
    whole-stage codegen."""
    li = load(spark, sf_dir, "lineitem")
    flow = li.groupBy(
        F.col("l_suppkey").alias("s"), F.to_date("l_shipdate").alias("day")
    ).agg(
        F.sum(
            F.when(F.col("l_linestatus") == "O", F.col("l_quantity").cast("long"))
            .otherwise(-F.col("l_quantity").cast("long"))
        ).cast("bigint").alias("net")
    )
    w = (
        Window.partitionBy("s")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ssum = flow.select("s", "day", F.sum("net").over(w).alias("ss"))
    walk = ssum.select(
        "s",
        "day",
        (F.col("ss") - F.least(F.lit(0).cast("long"), F.min("ss").over(w))).alias("c"),
    )
    wl = Window.partitionBy("s").orderBy(F.col("day").desc())
    return (
        walk.withColumn("rn", F.row_number().over(wl))
        .groupBy(F.col("s").alias("l_suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).cast("bigint")
            .alias("final_balance"),
            F.max("c").cast("bigint").alias("max_balance"),
            F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).cast("bigint")
            .alias("n_empty_days"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling regression slope (q187): the 7-day trend line per group — "is
# revenue accelerating?" as a windowed OLS, from the same exact power sums
# q120/q152 fit globally.
# ---------------------------------------------------------------------------


@query(
    "q187_rolling_slope",
    oracle="""
    WITH d AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
             CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM lineitem GROUP BY 1, 2, 3
    ),
    wnd AS (
      SELECT flag, day,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM d
      WINDOW w AS (PARTITION BY flag ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT flag, day,
           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             AS slope_cents_per_day
    FROM wnd WHERE n = 7
    """,
)
def q187_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling OLS slope of daily revenue per return flag: the five
    power sums (n, Σx, Σy, Σxy, Σx²) accumulate in ONE window pass over
    the bounded per-flag daily series — exact int64 (x = day index from
    the epoch date, y = exact cents; products stay ≤ 2⁴⁸ at this scale;
    a 1000× corpus moves y's sums to DECIMAL exactly as q152 does) — and
    the slope is a single float expression per row. Emitted only for
    full 7-day windows, so every row is the same-sized regression.

    This is the trend detector that pairs with q167's level-shift
    detector: CUSUM finds WHERE the level broke, the rolling slope reads
    HOW FAST it is moving now. The frame is ROWS-based over the dense
    daily reduction; gap-sensitive variants swap in q91's calendar spine
    first."""
    li = load(spark, sf_dir, "lineitem")
    d = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("day"),
        F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("flag").orderBy("day").rowsBetween(-6, 0)
    wnd = d.select(
        "flag",
        "day",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return wnd.filter(n == 7).select(
        "flag",
        "day",
        ((n * sxy - sx * sy) / (n * sxx - sx * F.col("sx"))).alias(
            "slope_cents_per_day"
        ),
    )


# ---------------------------------------------------------------------------
# OHLC resampling (q194): downsample an event stream to
# open/high/low/close bars — the financial-series aggregation whose trap
# is that OPEN/CLOSE are order statistics over TIME while HIGH/LOW are
# order statistics over VALUE, in the same group.
# ---------------------------------------------------------------------------


@query(
    "q194_ohlc_bars",
    oracle="""
    WITH t AS (
      SELECT l_returnflag AS flag,
             CAST(date_trunc('week', CAST(l_shipdate AS TIMESTAMP)) AS DATE) AS week,
             CAST(l_shipdate AS TIMESTAMP) AS ts,
             l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    r AS (
      SELECT flag, week, cents,
             ROW_NUMBER() OVER (PARTITION BY flag, week
                                ORDER BY ts, l_orderkey, l_linenumber) AS rf,
             ROW_NUMBER() OVER (PARTITION BY flag, week
                                ORDER BY ts DESC, l_orderkey DESC,
                                         l_linenumber DESC) AS rl
      FROM t
    )
    SELECT flag, week,
           CAST(MAX(CASE WHEN rf = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(MAX(CASE WHEN rl = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_ticks
    FROM r GROUP BY flag, week
    """,
)
def q194_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC bars per return flag: HIGH/LOW are plain MIN/MAX
    (map-side combining), while OPEN/CLOSE need the first/last tick BY
    TIME — selected with two ROW_NUMBERs under a TOTAL order
    (ts, orderkey, linenumber — shipdates collide at day granularity,
    so the key tiebreak is what makes both engines pick the same tick;
    ``first_value`` without it is nondeterministic under repartition).
    One shuffle on (flag, week), windows over bounded weekly groups,
    then a single hash aggregate folds all five statistics.

    The same shape resamples any tick stream to bars; finer bars just
    change the date_trunc unit."""
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        F.col("l_shipdate").alias("ts"),
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    wf = Window.partitionBy("flag", "week").orderBy("ts", "l_orderkey", "l_linenumber")
    wl = Window.partitionBy("flag", "week").orderBy(
        F.col("ts").desc(), F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    r = t.select(
        "flag", "week", "cents",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return r.groupBy("flag", "week").agg(
        F.max(F.when(F.col("rf") == 1, F.col("cents"))).cast("bigint").alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.max(F.when(F.col("rl") == 1, F.col("cents"))).cast("bigint").alias("close_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# Trending ranks (q201): week-over-week rank movement — "what's climbing"
# — the leaderboard-delta readout behind every trending panel.
# ---------------------------------------------------------------------------


@query(
    "q201_trending_rank_delta",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', CAST(l_shipdate AS TIMESTAMP)) AS DATE) AS week,
             l_partkey % 200 AS item,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    rk AS (
      SELECT week, item, qty,
             CAST(ROW_NUMBER() OVER (PARTITION BY week ORDER BY qty DESC, item)
                  AS BIGINT) AS rnk
      FROM wk
    ),
    j AS (
      SELECT c.week, c.item, c.qty, c.rnk,
             p.rnk AS prev_rnk
      FROM rk c JOIN rk p
        ON p.item = c.item AND p.week = c.week - INTERVAL 7 DAY
      WHERE c.rnk <= 20 AND p.rnk - c.rnk >= 5
    )
    SELECT week, CAST(item AS BIGINT) AS item, qty, rnk, prev_rnk,
           prev_rnk - rnk AS rank_gain
    FROM j
    """,
)
def q201_trending_rank_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: rank every item within its week (total
    (qty DESC, item) order), self-join consecutive weeks on the item, and
    keep current top-20 items that CLIMBED ≥5 positions — the
    leaderboard-delta panel. The weekly reduction is map-side; ranking
    partitions by week (bounded item sets per week — the q166 NTILE
    caveat applies at extreme catalog sizes, with the same q93
    histogram-cut escape); the week-over-week self-join is 1:1 on
    (item, week−7d) — no fan-out.

    LAG over (item ORDER BY week) would need every item present every
    week; the explicit previous-week join states the calendar contract
    instead of silently comparing against "whenever this item last
    appeared"."""
    li = load(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        (F.col("l_partkey") % 200).alias("item"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("bigint").alias("qty"))
    w = Window.partitionBy("week").orderBy(F.col("qty").desc(), "item")
    rk = wk.select(
        "week", "item", "qty", F.row_number().over(w).cast("bigint").alias("rnk")
    )
    prev = rk.select(
        F.col("item").alias("p_item"),
        (F.col("week") + F.expr("INTERVAL 7 DAY")).cast("date").alias("p_next_week"),
        F.col("rnk").alias("prev_rnk"),
    )
    return (
        rk.join(
            prev,
            (F.col("item") == F.col("p_item")) & (F.col("week") == F.col("p_next_week")),
        )
        .filter((F.col("rnk") <= 20) & (F.col("prev_rnk") - F.col("rnk") >= 5))
        .select(
            "week",
            F.col("item").cast("bigint").alias("item"),
            "qty",
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).alias("rank_gain"),
        )
    )


@query(
    "q252_pit_features",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS day,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(COUNT(*) OVER w30 AS BIGINT) AS n_orders_30d,
           CAST(COALESCE(SUM(cents) OVER w30, 0) AS BIGINT) AS rev_30d_cents,
           CAST(COUNT(*) OVER w90 AS BIGINT) AS n_orders_90d,
           CAST(COALESCE(SUM(cents) OVER w90, 0) AS BIGINT) AS rev_90d_cents
    FROM o
    WINDOW
      w30 AS (PARTITION BY o_custkey ORDER BY day
              RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING),
      w90 AS (PARTITION BY o_custkey ORDER BY day
              RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING)
    """,
)
def q252_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME multi-horizon features — the feature-store backfill
    shape: for every order, the customer's trailing-30d and trailing-90d
    order count and revenue AS OF the order date, with the current row
    EXCLUDED (the RANGE frame ends at 1 PRECEDING — same-day leakage of
    the label row is the classic backfill bug; a same-day SIBLING order
    is legitimately visible and both engines include it identically
    because the frame is value-based, not row-based). Both horizons ride
    ONE per-customer time-ordered window partitioning — adding a horizon
    adds a frame, not a shuffle. Exact integer cents; days as integers
    so RANGE arithmetic is exact. At 100 TB this is the plan that
    replaces per-(entity, horizon) self-joins: one exchange on the
    entity key, frames evaluated in a single sorted pass."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    w30 = (
        Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, -1)
    )
    w90 = (
        Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-90, -1)
    )
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.count(F.lit(1)).over(w30).cast("bigint").alias("n_orders_30d"),
        F.coalesce(F.sum("cents").over(w30), F.lit(0))
        .cast("bigint")
        .alias("rev_30d_cents"),
        F.count(F.lit(1)).over(w90).cast("bigint").alias("n_orders_90d"),
        F.coalesce(F.sum("cents").over(w90), F.lit(0))
        .cast("bigint")
        .alias("rev_90d_cents"),
    )


@query(
    "q253_matched_controls",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated
      FROM customer
    ),
    scan AS (
      SELECT c_custkey, bal, treated,
             LAST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS) OVER (
               ORDER BY bal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below_bal,
             LAST_VALUE(CASE WHEN treated = 0 THEN c_custkey END IGNORE NULLS) OVER (
               ORDER BY bal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below_key,
             FIRST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS) OVER (
               ORDER BY bal, c_custkey
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS above_bal,
             FIRST_VALUE(CASE WHEN treated = 0 THEN c_custkey END IGNORE NULLS) OVER (
               ORDER BY bal, c_custkey
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS above_key
      FROM c
    )
    SELECT CAST(c_custkey AS BIGINT) AS treated_key,
           CAST(CASE
             WHEN below_key IS NULL THEN above_key
             WHEN above_key IS NULL THEN below_key
             WHEN abs(bal - below_bal) < abs(above_bal - bal) THEN below_key
             WHEN abs(above_bal - bal) < abs(bal - below_bal) THEN above_key
             ELSE LEAST(below_key, above_key) END AS BIGINT) AS control_key,
           CAST(CASE
             WHEN below_key IS NULL THEN above_bal - bal
             WHEN above_key IS NULL THEN bal - below_bal
             ELSE LEAST(abs(bal - below_bal), abs(above_bal - bal))
           END AS BIGINT) AS delta_cents
    FROM scan WHERE treated = 1
    """,
)
def q253_matched_controls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCHED CONTROL-GROUP construction — for every treated unit
    (BUILDING-segment customer) find the nearest-balance control, the
    covariate-matching step of an observational study. The plan is the
    as-of/union trick applied to a VALUE axis instead of time: one sort
    by (balance, key), carry the last preceding and first following
    control with IGNORE-NULLS window edges, pick the closer side
    (deterministic tie policy: equal gaps → smaller control key). The
    quadratic form (every treated × every control argmin) never runs —
    matching is O(n log n) with exactly one ordering. Matching WITH
    replacement by design: controls may serve several treated units
    (the standard greedy-nearest estimator). Scale shape: the ordering
    is RANGE-PARTITIONED (the q74/q100 two-pass recipe, no
    SinglePartition exchange, plan-audited): each range computes its
    flanking controls locally, the per-range boundary controls (first/
    last control per range — n_partitions rows) broadcast back through
    a triangular join, and rows whose local window saw no control fill
    from the nearest earlier/later range's boundary. Semantics are
    identical to the single global ordering."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("bal"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treated"),
    )
    ctrl_bal = F.when(F.col("treated") == 0, F.col("bal"))
    ctrl_key = F.when(F.col("treated") == 0, F.col("c_custkey"))
    # EXPLICIT partition count (round 9, caught LIVE by this round's sf1
    # soak): repartitionByRange without numPartitions is AQE-coalescible,
    # and at sf1 the whole 150k-row customer table coalesced into ONE
    # range. That alone would only serialize the windows — but the
    # original "above" window used a (1, unboundedFollowing) frame,
    # which Spark re-evaluates by scanning the REMAINDER for every row:
    # O(rows²) per partition. One coalesced range x shrinking frame =
    # 2.25e10 row-ops on one core (the query ran ~40 min at sf1 vs
    # 3.7 s at sf0.1). Both halves fixed: pin 32 ranges, and express
    # the "first control after me" pick as a GROWING frame over the
    # DESCENDING order (identical row set, incremental O(rows) —
    # the asof.py forward fix, applied at its source).
    ranged = c.repartitionByRange(32, "bal", "c_custkey").withColumn(
        "__mc_pid", F.spark_partition_id()
    )
    wb = (
        Window.partitionBy("__mc_pid")
        .orderBy("bal", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wa = (
        Window.partitionBy("__mc_pid")
        .orderBy(F.desc("bal"), F.desc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.select(
        "c_custkey",
        "bal",
        "treated",
        "__mc_pid",
        F.last(ctrl_bal, ignorenulls=True).over(wb).alias("below_bal"),
        F.last(ctrl_key, ignorenulls=True).over(wb).alias("below_key"),
        F.last(ctrl_bal, ignorenulls=True).over(wa).alias("above_bal"),
        F.last(ctrl_key, ignorenulls=True).over(wa).alias("above_key"),
    )
    # Per-range boundary controls (n_partitions rows) — broadcast both ways.
    bounds = (
        ranged.filter(F.col("treated") == 0)
        .groupBy("__mc_pid")
        .agg(
            F.max(F.struct("bal", "c_custkey")).alias("last_ctrl"),
            F.min(F.struct("bal", "c_custkey")).alias("first_ctrl"),
        )
        .select(
            F.col("__mc_pid").alias("__b_pid"), "last_ctrl", "first_ctrl"
        )
    )
    # Triangular fill over ALL pids (a range with no control still needs
    # its neighbors' boundaries), tiny × tiny, broadcast.
    pids = local.select("__mc_pid").distinct()
    fills = (
        pids.join(
            F.broadcast(
                bounds.select(F.col("__b_pid").alias("p"), "last_ctrl", "first_ctrl")
            ),
            F.lit(True),
            "left",
        )
        .groupBy("__mc_pid")
        .agg(
            F.max(
                F.when(F.col("p") < F.col("__mc_pid"), F.col("last_ctrl"))
            ).alias("prev_ctrl"),
            F.min(
                F.when(F.col("p") > F.col("__mc_pid"), F.col("first_ctrl"))
            ).alias("next_ctrl"),
        )
    )
    scan = (
        local.join(F.broadcast(fills), "__mc_pid", "left")
        .withColumn(
            "below_bal", F.coalesce("below_bal", F.col("prev_ctrl.bal"))
        )
        .withColumn(
            "below_key", F.coalesce("below_key", F.col("prev_ctrl.c_custkey"))
        )
        .withColumn(
            "above_bal", F.coalesce("above_bal", F.col("next_ctrl.bal"))
        )
        .withColumn(
            "above_key", F.coalesce("above_key", F.col("next_ctrl.c_custkey"))
        )
    )
    d_below = F.abs(F.col("bal") - F.col("below_bal"))
    d_above = F.abs(F.col("above_bal") - F.col("bal"))
    control = (
        F.when(F.col("below_key").isNull(), F.col("above_key"))
        .when(F.col("above_key").isNull(), F.col("below_key"))
        .when(d_below < d_above, F.col("below_key"))
        .when(d_above < d_below, F.col("above_key"))
        .otherwise(F.least("below_key", "above_key"))
    )
    delta = (
        F.when(F.col("below_key").isNull(), F.col("above_bal") - F.col("bal"))
        .when(F.col("above_key").isNull(), F.col("bal") - F.col("below_bal"))
        .otherwise(F.least(d_below, d_above))
    )
    return scan.filter(F.col("treated") == 1).select(
        F.col("c_custkey").cast("bigint").alias("treated_key"),
        control.cast("bigint").alias("control_key"),
        delta.cast("bigint").alias("delta_cents"),
    )


@query(
    "q289_billing_proration",
    oracle="""
    WITH sub AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS start_d,
             CAST(o_orderdate AS DATE) + 30 AS end_d
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-12-01'
        AND o_orderdate < TIMESTAMP '1998-01-15'
    ),
    split AS (
      SELECT o_orderkey,
             GREATEST(0, LEAST(end_d, DATE '1998-01-01') - start_d) AS days_old,
             GREATEST(0, end_d - GREATEST(start_d, DATE '1998-01-01')) AS days_new
      FROM sub
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(days_old AS BIGINT) AS days_old,
           CAST(days_new AS BIGINT) AS days_new,
           CAST(days_old * 100 + days_new * 120 AS BIGINT) AS billed_cents
    FROM split
    """,
)
def q289_billing_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BILLING PRORATION across a rate change — each 30-day subscription
    window starting near the 1998-01-01 price increase (100→120
    cents/day) is split PRO-RATA by exact day counts on each side of
    the boundary: billed = days_old·rate₁ + days_new·rate₂. The
    interval-split arithmetic is pure GREATEST/LEAST on integer dates
    (the q147/q206 interval algebra pointed at money) — no per-day
    explode (a 30-row blowup per subscription that the naive
    calendar-join version pays), no floats, and the invariant
    days_old + days_new ≡ 30 is test-pinned. Multi-change rate tables
    generalize by joining the q184 effective-dated dimension and
    summing one GREATEST/LEAST term per overlapped period — still
    explode-free. Runs in the scan projection: zero shuffles."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-12-01") & (F.col("o_orderdate") < "1998-01-15")
    )
    start_d = F.to_date("o_orderdate")
    end_d = F.date_add(start_d, 30)
    boundary = F.to_date(F.lit("1998-01-01"))
    days_old = F.greatest(
        F.lit(0), F.datediff(F.least(end_d, boundary), start_d)
    )
    days_new = F.greatest(
        F.lit(0), F.datediff(end_d, F.greatest(start_d, boundary))
    )
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        days_old.cast("bigint").alias("days_old"),
        days_new.cast("bigint").alias("days_new"),
        (days_old * 100 + days_new * 120).cast("bigint").alias("billed_cents"),
    )


@query(
    "q290_adstock_carryover",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS BIGINT)
               AS week,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, 2
    ),
    spine AS (
      SELECT DISTINCT s.user_id, w.wk AS week
      FROM spend s, unnest(generate_series(0, 4)) AS w(wk)
    ),
    dense AS (
      SELECT sp.user_id, sp.week, COALESCE(s.cents, 0) AS cents
      FROM spine sp LEFT JOIN spend s
        ON s.user_id = sp.user_id AND s.week = sp.week
    ),
    lagged AS (
      SELECT user_id, week, cents,
             COALESCE(LAG(cents, 1) OVER w, 0) AS l1,
             COALESCE(LAG(cents, 2) OVER w, 0) AS l2,
             COALESCE(LAG(cents, 3) OVER w, 0) AS l3
      FROM dense
      WINDOW w AS (PARTITION BY user_id ORDER BY week)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, week, cents,
           CAST(cents * 8 + l1 * 4 + l2 * 2 + l3 AS BIGINT) AS adstock_8ths
    FROM lagged
    """,
)
def q290_adstock_carryover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADSTOCK (geometric carryover) transform — marketing-mix
    modeling's feature: this week's effective exposure is spend plus
    decayed echoes of prior weeks. The infinite recursion
    a_t = x_t + λ·a_{t−1} is order-recursive and float-divergent; with
    λ = ½ truncated at 3 lags it becomes an EXACT bounded convolution —
    8x_t + 4x_{t−1} + 2x_{t−2} + x_{t−3} in 8ths (the q248 power-of-two
    decay rule applied to a sliding kernel). Three LAGs over one
    per-user weekly ordering; the week spine densifies first (a missing
    week must contribute ZERO, not collapse the kernel onto the next
    observed week — the q91 gap-fill rule, and the bug naive adstock
    implementations ship). The spine is |users|×5 rows built from a
    bounded series. Truncation error is ≤ 1/8 of the oldest term —
    noted, bounded, and the price of exactness."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")) / 7
    ).cast("bigint")
    spend = ev.groupBy("user_id", week.alias("week")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    spine = (
        spend.select("user_id")
        .distinct()
        .select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("week")
        )
        .withColumn("week", F.col("week").cast("bigint"))
    )
    dense = spine.join(spend, ["user_id", "week"], "left").select(
        "user_id", "week", F.coalesce("cents", F.lit(0)).cast("bigint").alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = dense.select(
        "user_id",
        "week",
        "cents",
        F.coalesce(F.lag("cents", 1).over(w), F.lit(0)).alias("l1"),
        F.coalesce(F.lag("cents", 2).over(w), F.lit(0)).alias("l2"),
        F.coalesce(F.lag("cents", 3).over(w), F.lit(0)).alias("l3"),
    )
    return lagged.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "week",
        "cents",
        (
            F.col("cents") * 8 + F.col("l1") * 4 + F.col("l2") * 2 + F.col("l3")
        )
        .cast("bigint")
        .alias("adstock_8ths"),
    )


@query(
    "q292_business_day_sla",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) - DATE '1995-01-02' AS d0
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    shifted AS (
      -- add 5 business days: weekend starts roll forward to Monday
      -- (7 - dow days), then 5 business days = exactly 7 calendar days.
      -- dow is a SIGN-SAFE mod: DuckDB % keeps the dividend sign, so
      -- a start date before the 1995-01-02 anchor needs ((d%7)+7)%7
      -- to land in the documented 0-6 domain (Sunday 1995-01-01 is
      -- d0=-1 -> dow=6, a weekend start, not dow=-1 "weekday").
      SELECT o_orderkey, d0, dow,
             CASE WHEN dow <= 4 THEN d0 + 7
                  ELSE d0 + (7 - dow) + 7 END AS deadline_days
      FROM (SELECT o_orderkey, d0, ((d0 % 7) + 7) % 7 AS dow FROM base)
    )
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           strftime(DATE '1995-01-02' + CAST(d0 AS INTEGER), '%Y-%m-%d') AS start_day,
           CAST(dow AS BIGINT) AS start_dow,
           strftime(DATE '1995-01-02' + CAST(deadline_days AS INTEGER),
                    '%Y-%m-%d') AS sla_deadline
    FROM shifted
    """,
)
def q292_business_day_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-DAY SLA deadlines — "respond within 5 business days"
    computed as PURE INTEGER arithmetic on days-since-a-known-Monday
    (1995-01-02): day-of-week = offset mod 7 (engine-neutral — never
    dayofweek()/strftime('%w'), whose week-start conventions differ
    across engines and locales), weekend starts first roll
    forward to Monday (7 − dow days), and 5 business days from a
    weekday are exactly 7 calendar days; remainders for arbitrary N
    walk the same mod-7 arithmetic.
    Zero joins, zero shuffles — deadline assignment is a scan
    projection; a holiday calendar joins in as a tiny broadcast table
    adding its count to the walk (the q184 effective-dated pattern).
    The oracle encodes the identical arithmetic, so the deadline rule
    itself — the thing compliance audits — is what's hash-checked."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    monday = F.lit("1995-01-02")
    d0 = F.datediff(F.to_date("o_orderdate"), F.to_date(monday))
    # pmod, not %: Spark % keeps the dividend sign, so dates before the
    # Monday anchor would get a negative "day of week" and be treated
    # as weekday starts (the sf0.01 fixture has Sunday 1995-01-01).
    dow = F.pmod(d0, F.lit(7))
    # Weekend starts roll forward to Monday (7 - dow days) BEFORE the
    # clock starts; 5 business days from a weekday are exactly 7
    # calendar days. (The first cut walked the remainder over the
    # weekend and landed Saturday starts on Sunday — caught by the
    # deadline-property test, not by the oracle, because both engines
    # shared the formula: the reason semantic property tests exist
    # alongside hash parity.)
    shifted = F.when(dow <= 4, d0 + 7).otherwise(d0 + (7 - dow) + 7)
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("start_day"),
        dow.cast("bigint").alias("start_dow"),
        F.date_format(
            F.date_add(F.to_date(monday), shifted.cast("int")), "yyyy-MM-dd"
        ).alias("sla_deadline"),
    )


@query(
    "q321_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT t.event_type, s.d
      FROM (SELECT DISTINCT event_type FROM daily) t,
           (SELECT UNNEST(generate_series(0,
              (SELECT MAX(d) FROM daily))) AS d) s
    ),
    dense AS (
      SELECT sp.event_type, sp.d, COALESCE(da.cents, 0) AS actual
      FROM spine sp LEFT JOIN daily da
        ON da.event_type = sp.event_type AND da.d = sp.d
    ),
    fc AS (
      SELECT event_type, d, actual,
             LAG(actual, 7) OVER (PARTITION BY event_type ORDER BY d)
               AS forecast
      FROM dense
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(forecast - actual)) AS BIGINT) AS sum_abs_err_cents,
           CAST(SUM(actual) AS BIGINT) AS sum_actual_cents,
           CAST(SUM(abs(forecast - actual)) * 1000000
                // SUM(actual) AS BIGINT) AS wape_ppm,
           CAST(SUM(forecast - actual) AS BIGINT) AS bias_cents
    FROM fc WHERE forecast IS NOT NULL
    GROUP BY event_type
    """,
)
def q321_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE BACKTEST — the forecast-eval floor every model
    must beat before it ships (M-competition rule): predict each day
    with the same weekday last week (LAG 7 over a DENSIFIED daily
    spine — q290's rule again: a missing day is a zero, and skipping
    it would slide the weekly phase), then score WAPE = Σ|err|/Σactual
    in exact ppm (the aggregate-ratio form that dodges sMAPE's
    per-row division instability and MAPE's zero-day blowups) plus
    signed bias. A model catalog at 100 TB runs this per (series,
    model) pair as one densify + one LAG + one rollup — the spine is
    calendar x series-sized, the raw stream dies in the first
    map-side combine. WAPE here is also the q24 error-metric family's
    scale-safe member: numerator and denominator both reported for
    exact re-blending across hierarchies."""
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
    dmax = daily.agg(F.max("d").alias("dmax"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(dmax))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("dmax"))).alias("d"),
        )
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("cents", F.lit(0)).cast("long").alias("actual")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    fc = dense.withColumn("forecast", F.lag("actual", 7).over(w)).filter(
        F.col("forecast").isNotNull()
    )
    return fc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("forecast") - F.col("actual")))
        .cast("bigint")
        .alias("sum_abs_err_cents"),
        F.sum("actual").cast("bigint").alias("sum_actual_cents"),
        F.expr(
            "SUM(abs(forecast - actual)) * 1000000 DIV SUM(actual)"
        )
        .cast("bigint")
        .alias("wape_ppm"),
        F.sum(F.col("forecast") - F.col("actual"))
        .cast("bigint")
        .alias("bias_cents"),
    )


FC_TRAIN_END = "2024-01-22"  # train < this date, evaluate on the rest


@query(
    "q331_interval_forecast_eval",
    oracle=f"""
    WITH train AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE CAST(ts AS DATE) < DATE '{FC_TRAIN_END}'
    ),
    hist AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM train GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    bands AS (
      SELECT event_type,
             MIN(CASE WHEN c >= (n + 9) // 10 THEN cents END) AS p10,
             MIN(CASE WHEN c >= (9 * n + 9) // 10 THEN cents END) AS p90
      FROM cum GROUP BY event_type
    ),
    test AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS a
      FROM events WHERE CAST(ts AS DATE) >= DATE '{FC_TRAIN_END}'
    )
    SELECT t.event_type,
           CAST(b.p10 AS BIGINT) AS p10_cents,
           CAST(b.p90 AS BIGINT) AS p90_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.a BETWEEN b.p10 AND b.p90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN t.a BETWEEN b.p10 AND b.p90
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS coverage_ppm,
           CAST(SUM(GREATEST(t.a - b.p10, 9 * (b.p10 - t.a))) AS BIGINT)
             AS pinball10_x10,
           CAST(SUM(GREATEST(9 * (t.a - b.p90), b.p90 - t.a)) AS BIGINT)
             AS pinball90_x10
    FROM test t JOIN bands b ON b.event_type = t.event_type
    GROUP BY t.event_type, b.p10, b.p90
    """,
)
def q331_interval_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-FORECAST evaluation — point forecasts get WAPE (q321);
    PREDICTION INTERVALS get coverage and PINBALL LOSS, the scoring
    rule quantile forecasts are trained on (and the M5-Uncertainty
    metric): a [p10, p90] band fit on the first three weeks is scored
    on the holdout by (a) empirical coverage vs the nominal 80%, and
    (b) pinball at each tail — x10 integers, since the 0.1/0.9
    quantile weights make loss = max(a−f, 9(f−a))/10, and the /10 can
    wait for the report edge (the house ppm discipline). The band
    itself uses the EXPLICIT ceil-rank histogram rule — min value
    whose cumulative count reaches ceil(q·n) — not an engine quantile
    function, because engines disagree on interpolation (the q93
    lesson; this makes the quantile definition part of the tested
    contract). Pinball is asymmetric ON PURPOSE: under-covering the
    p90 costs 9x more than over-covering — the property test checks
    that degenerate bands strictly worsen the score. Train-side
    histograms are bounded support; the eval is one broadcast join of
    a 5-row band table onto the holdout scan."""
    ev = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit(FC_TRAIN_END).cast("date")
    train = ev.filter(F.to_date("ts") < cutoff).select(
        "event_type", cents.alias("cents")
    )
    hist = train.groupBy("event_type", "cents").agg(
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
    bands = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("c") >= F.expr("(n + 9) DIV 10"), F.col("cents"))
        ).alias("p10"),
        F.min(
            F.when(F.col("c") >= F.expr("(9 * n + 9) DIV 10"), F.col("cents"))
        ).alias("p90"),
    )
    test = ev.filter(F.to_date("ts") >= cutoff).select(
        "event_type", cents.alias("a")
    )
    j = test.join(F.broadcast(bands), "event_type")
    covered = (F.col("a") >= F.col("p10")) & (F.col("a") <= F.col("p90"))
    return j.groupBy("event_type", "p10", "p90").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(covered, 1).otherwise(0)).cast("bigint").alias("n_covered"),
        F.expr(
            "SUM(CASE WHEN a BETWEEN p10 AND p90 THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*)"
        )
        .cast("bigint")
        .alias("coverage_ppm"),
        F.sum(F.greatest(F.col("a") - F.col("p10"), 9 * (F.col("p10") - F.col("a"))))
        .cast("bigint")
        .alias("pinball10_x10"),
        F.sum(F.greatest(9 * (F.col("a") - F.col("p90")), F.col("p90") - F.col("a")))
        .cast("bigint")
        .alias("pinball90_x10"),
    ).select(
        "event_type",
        F.col("p10").cast("bigint").alias("p10_cents"),
        F.col("p90").cast("bigint").alias("p90_cents"),
        "n_test",
        "n_covered",
        "coverage_ppm",
        "pinball10_x10",
        "pinball90_x10",
    )


@query(
    "q350_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS slope,
             a.d AS di, b.d AS dj
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, di, dj) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM pairs
    ),
    ts AS (
      SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
             MAX(CASE WHEN rn = (m + 1) // 2 THEN slope END) AS theil_sen_slope
      FROM ranked GROUP BY event_type
    ),
    mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(cents) AS BIGINT) AS sc,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(d * cents) AS BIGINT) AS sdc
      FROM daily GROUP BY event_type
    )
    SELECT t.event_type, t.n_pairs, t.theil_sen_slope,
           (CAST(m.n AS DOUBLE) * m.sdc - CAST(m.sd AS DOUBLE) * m.sc)
             / (CAST(m.n AS DOUBLE) * m.sdd - CAST(m.sd AS DOUBLE) * m.sd)
             AS ols_slope
    FROM ts t JOIN mom m ON m.event_type = t.event_type
    """,
)
def q350_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend — the median of all pairwise slopes, the
    estimator that shrugs off the outlier days that drag q120/q187's
    least-squares slope (29.3% breakdown point vs OLS's zero): one
    corrupted day moves OLS by an unbounded amount and Theil-Sen not
    at all — both are emitted side by side so the GAP is itself the
    outlier alarm. Pairwise slopes are single divisions over exact
    integer (Δcents, Δdays); the median is a total-order rank select
    (slope with (d_i, d_j) tiebreak — doubles sort identically on
    both engines) over the calendar-bounded pair set: 30 days = 435
    pairs per series, fine up to years of daily data; for long
    series the O(n log n) Siegel repeated-median variant or a
    sampled pair grid replaces the full lattice (noted, not needed
    at calendar scale). Completes the robust shelf: q127 MAD
    location, q140 winsorized moments, q198 IQR fences — now the
    robust SLOPE."""
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
    a = daily.select(
        "event_type", F.col("d").alias("di"), F.col("cents").alias("ci")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("dj"),
        F.col("cents").alias("cj"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("dj") > F.col("di"))
    ).select(
        "event_type",
        ((F.col("cj") - F.col("ci")).cast("double") / (F.col("dj") - F.col("di"))).alias(
            "slope"
        ),
        "di",
        "dj",
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    ts = ranked.groupBy("event_type").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        F.max(
            F.when(F.col("rn") == F.expr("(m + 1) DIV 2"), F.col("slope"))
        ).alias("theil_sen_slope"),
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("cents").cast("long").alias("sc"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("cents")).cast("long").alias("sdc"),
    )
    return ts.join(mom, "event_type").selectExpr(
        "event_type",
        "n_pairs",
        "theil_sen_slope",
        "(CAST(n AS DOUBLE) * sdc - CAST(sd AS DOUBLE) * sc)"
        " / (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd) AS ols_slope",
    )


CONF_CAL_START, CONF_CAL_END = 7, 21  # calibration day range (test beyond)


@query(
    "q351_conformal_interval",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    fc AS (
      SELECT a.event_type, a.d, a.cents,
             b.cents AS forecast,
             abs(a.cents - b.cents) AS score
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d - 7
    ),
    cal AS (
      SELECT event_type, score FROM fc
      WHERE d >= {CONF_CAL_START} AND d <= {CONF_CAL_END}
    ),
    hist AS (
      SELECT event_type, score, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cal GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, score,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY score
                            ROWS UNBOUNDED PRECEDING) AS c,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    qhat AS (
      SELECT event_type, MAX(n) AS n_cal,
             MIN(CASE WHEN c >= (9 * (n + 1) + 9) // 10 THEN score END)
               AS q_hat
      FROM cum GROUP BY event_type
    ),
    test AS (
      SELECT event_type, score FROM fc WHERE d > {CONF_CAL_END}
    )
    SELECT t.event_type,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(COALESCE(q.q_hat, 9223372036854775807) AS BIGINT)
             AS q_hat_cents,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.score <= COALESCE(q.q_hat,
                9223372036854775807) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(SUM(CASE WHEN t.score <= COALESCE(q.q_hat,
                9223372036854775807) THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS coverage_ppm
    FROM test t JOIN qhat q ON q.event_type = t.event_type
    GROUP BY t.event_type, q.n_cal, q.q_hat
    """,
)
def q351_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT CONFORMAL prediction — the distribution-free interval with
    a finite-sample guarantee q331's quantile bands lack: take the
    ceil((n+1)·0.9)-th calibration nonconformity score (|seasonal-
    naive error|, the q321 forecaster) as the radius q̂, and
    P(test error <= q̂) >= 90% holds for ANY error distribution,
    provided only exchangeability — the reason conformal swept ML
    uncertainty work. The (n+1) in the rank is the whole theorem
    (using n undercover); when the rank exceeds n the radius is
    honestly +infinity (MAX BIGINT sentinel — a too-small calibration
    set cannot promise 90%). Exact ceil-rank select over the
    calibration score histogram per series, one conditional count on
    the holdout. Per-model-per-segment conformal at 100 TB is this
    same plan under two more groupBy keys."""
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
    b = daily.select(
        F.col("event_type").alias("et2"),
        (F.col("d") + 7).alias("d2"),
        F.col("cents").alias("forecast"),
    )
    fc = daily.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d") == F.col("d2"))
    ).select(
        "event_type",
        "d",
        F.abs(F.col("cents") - F.col("forecast")).alias("score"),
    )
    cal = fc.filter(
        (F.col("d") >= CONF_CAL_START) & (F.col("d") <= CONF_CAL_END)
    )
    hist = cal.groupBy("event_type", "score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "score",
        F.sum("cnt").over(wcum).alias("c"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    qhat = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_cal"),
        F.min(
            F.when(
                F.col("c") >= F.expr("(9 * (n + 1) + 9) DIV 10"), F.col("score")
            )
        ).alias("q_hat"),
    )
    sentinel = F.lit(9223372036854775807).cast("long")
    test = fc.filter(F.col("d") > CONF_CAL_END)
    j = test.join(F.broadcast(qhat), "event_type").withColumn(
        "radius", F.coalesce("q_hat", sentinel)
    )
    return j.groupBy("event_type", "n_cal", "radius").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("score") <= F.col("radius"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_covered"),
        F.expr(
            "SUM(CASE WHEN score <= radius THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*)"
        )
        .cast("bigint")
        .alias("coverage_ppm"),
    ).select(
        "event_type",
        F.col("n_cal").cast("bigint"),
        F.col("radius").cast("bigint").alias("q_hat_cents"),
        "n_test",
        "n_covered",
        "coverage_ppm",
    )


BINSEG_MIN_SEG = 3  # minimum days on each side of a candidate split


@query(
    "q352_binary_segmentation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT)
               AS dollars
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, d, dollars,
             ROW_NUMBER() OVER w AS i,
             SUM(dollars) OVER (w ROWS UNBOUNDED PRECEDING) AS ps,
             SUM(dollars * dollars) OVER (w ROWS UNBOUNDED PRECEDING) AS pq,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(dollars) OVER (PARTITION BY event_type) AS s,
             SUM(dollars * dollars) OVER (PARTITION BY event_type) AS q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    gains AS (
      SELECT event_type, d, i, n,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
             - ((CAST(pq AS DOUBLE) - CAST(ps AS DOUBLE) * ps / i)
                + (CAST(q - pq AS DOUBLE)
                   - CAST(s - ps AS DOUBLE) * (s - ps) / (n - i))) AS gain,
             CAST(ps AS DOUBLE) / i AS left_mean,
             CAST(s - ps AS DOUBLE) / (n - i) AS right_mean
      FROM pre
      WHERE i >= {BINSEG_MIN_SEG} AND n - i >= {BINSEG_MIN_SEG}
    ),
    best AS (
      SELECT event_type, d, gain, left_mean, right_mean,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gain DESC, d) AS rnk
      FROM gains
    )
    SELECT event_type, CAST(d AS BIGINT) AS split_after_day,
           gain, left_mean, right_mean
    FROM best WHERE rnk = 1
    """,
)
def q352_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY SEGMENTATION — the changepoint primitive under every
    segmentation stack (ruptures' BinSeg, classical AMOC): the best
    single split is the one maximizing the SSE reduction
    SSE(whole) − SSE(left) − SSE(right), and with prefix sums
    (Σx, Σx²) every candidate's gain is O(1) — the whole scan of n−1
    splits is ONE cumulative window over the daily series plus a
    per-series argmax. Complements q167: CUSUM detects drift ONLINE
    with a threshold; BinSeg finds the single best RETROSPECTIVE
    break with no tuning, and recursing on each side (re-running
    this query on the segments) yields the full segmentation.
    Integer dollars keep Σx² in int64 (the q323 lesson); gains are
    fixed-order float expressions off exact prefixes; min segment
    3 days guards degenerate end splits. Property-
    tested against an O(n²) Python recomputation and a planted-shift
    construction."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("dollars")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "d",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("dollars").over(wcum).alias("ps"),
        F.sum(F.col("dollars") * F.col("dollars")).over(wcum).alias("pq"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("dollars").over(wall).alias("s"),
        F.sum(F.col("dollars") * F.col("dollars")).over(wall).alias("q"),
    )
    gains = pre.filter(
        (F.col("i") >= BINSEG_MIN_SEG) & (F.col("n") - F.col("i") >= BINSEG_MIN_SEG)
    ).selectExpr(
        "event_type",
        "d",
        "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
        " - ((CAST(pq AS DOUBLE) - CAST(ps AS DOUBLE) * ps / i)"
        " + (CAST(q - pq AS DOUBLE)"
        " - CAST(s - ps AS DOUBLE) * (s - ps) / (n - i))) AS gain",
        "CAST(ps AS DOUBLE) / i AS left_mean",
        "CAST(s - ps AS DOUBLE) / (n - i) AS right_mean",
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("gain").desc(), "d")
    return (
        gains.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("d").cast("bigint").alias("split_after_day"),
            "gain",
            "left_mean",
            "right_mean",
        )
    )


ROLLING_FOLDS = [(14, 21), (21, 28), (28, 35)]  # [start, end) test windows
_FOLDS_SQL = ", ".join(f"({i + 1}, {a}, {b})" for i, (a, b) in enumerate(ROLLING_FOLDS))


@query(
    "q353_rolling_origin",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT t.event_type, s.d
      FROM (SELECT DISTINCT event_type FROM daily) t,
           (SELECT UNNEST(generate_series(0,
              (SELECT MAX(d) FROM daily))) AS d) s
    ),
    dense AS (
      SELECT sp.event_type, sp.d, COALESCE(da.cents, 0) AS actual
      FROM spine sp LEFT JOIN daily da
        ON da.event_type = sp.event_type AND da.d = sp.d
    ),
    fc AS (
      SELECT event_type, d, actual,
             LAG(actual, 7) OVER (PARTITION BY event_type ORDER BY d)
               AS forecast
      FROM dense
    )
    SELECT f.fold, fc.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(fc.forecast - fc.actual)) AS BIGINT)
             AS sum_abs_err_cents,
           CAST(SUM(fc.actual) AS BIGINT) AS sum_actual_cents,
           CAST(SUM(abs(fc.forecast - fc.actual)) * 1000000
                // GREATEST(SUM(fc.actual), 1) AS BIGINT) AS wape_ppm
    FROM fc JOIN (VALUES {_FOLDS_SQL}) AS f(fold, lo, hi)
      ON fc.d >= f.lo AND fc.d < f.hi
    WHERE fc.forecast IS NOT NULL
    GROUP BY f.fold, fc.event_type
    """,
)
def q353_rolling_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN evaluation — the time-series cross-validation
    standard (Tashman 2000; sktime/M-competitions): instead of ONE
    holdout (q321), the forecast origin advances week by week and
    each fold scores only days it could legitimately forecast —
    the design that catches a model whose accuracy decays with
    horizon or drifts across regimes, and the reason a single-split
    backtest overfits the split. Folds are literal [start, end)
    windows joined onto the densified daily spine (one spine, one
    LAG — the folds share the forecast column, so K folds cost the
    SAME two passes as one); WAPE per (fold, series) in exact ppm
    with a GREATEST(·,1) guard for dead windows. Fold-over-fold
    WAPE variance is the stability metric the property test reads.
    Swapping the forecaster means swapping the LAG expression —
    the harness is the product here."""
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
    dmax = daily.agg(F.max("d").alias("dmax"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(dmax))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("dmax"))).alias("d"),
        )
    )
    dense = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("cents", F.lit(0)).cast("long").alias("actual")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    fc = dense.withColumn("forecast", F.lag("actual", 7).over(w)).filter(
        F.col("forecast").isNotNull()
    )
    folds = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(ROLLING_FOLDS)],
        "fold int, lo long, hi long",
    )
    j = fc.join(
        F.broadcast(folds),
        (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
    )
    return j.groupBy("fold", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("forecast") - F.col("actual")))
        .cast("bigint")
        .alias("sum_abs_err_cents"),
        F.sum("actual").cast("bigint").alias("sum_actual_cents"),
        F.expr(
            "SUM(abs(forecast - actual)) * 1000000"
            " DIV GREATEST(SUM(actual), 1)"
        )
        .cast("bigint")
        .alias("wape_ppm"),
    )


@query(
    "q363_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d > a.d
    ),
    s AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, cents
      ) GROUP BY event_type
    ),
    nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily
      GROUP BY event_type
    )
    SELECT s.event_type, s.s_stat, s.n_pairs,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS BIGINT)
             AS var_x18,
           (CAST(s.s_stat AS DOUBLE)
            - CASE WHEN s.s_stat > 0 THEN 1
                   WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
             / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                     - ties.tie_term) / 18) AS z_stat
    FROM s JOIN ties ON ties.event_type = s.event_type
    JOIN nn ON nn.event_type = s.event_type
    """,
)
def q363_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test — the significance half of the robust
    trend pairing (q350's Theil-Sen says HOW STEEP; MK says IS IT
    REAL): S = Σ sign(x_j − x_i) over ordered pairs is a pure integer
    statistic — no residuals, no normality, invariant to any monotone
    transform of the series — and its null variance has the closed
    tie-corrected form [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, ALSO exact
    integers (reported x18 so downstream never re-rounds). Only the
    final z divides and sqrt's, with the continuity correction
    (S ∓ 1) the textbook form requires. Pairs are calendar-bounded
    (q350's lattice note); tie groups come from a value-histogram
    aggregate. Hydrology and air-quality monitoring run exactly this
    at fleet scale — per sensor, same plan under one more groupBy
    key. Property-tested on planted monotone and flat series."""
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
    a = daily.select("event_type", F.col("d").alias("di"), F.col("cents").alias("ci"))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("dj"),
        F.col("cents").alias("cj"),
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("dj") > F.col("di"))
    ).select(
        "event_type",
        F.when(F.col("cj") > F.col("ci"), 1)
        .when(F.col("cj") < F.col("ci"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        s.join(ties, "event_type")
        .join(nn, "event_type")
        .selectExpr(
            "event_type",
            "s_stat",
            "n_pairs",
            "CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var_x18",
            "(CAST(s_stat AS DOUBLE)"
            " - CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END)"
            " / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)"
            " / 18) AS z_stat",
        )
    )


EVENT_STUDY_DAY = 15   # the "event" date (day index of 2024-01-16 launch)
EVENT_WINDOW = 5       # offsets −W..+W reported


@query(
    "q372_event_study",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    baseline AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS base_sum,
             CAST(COUNT(*) AS BIGINT) AS base_days
      FROM daily WHERE d < {EVENT_STUDY_DAY} - {EVENT_WINDOW}
    ),
    win AS (
      SELECT d - {EVENT_STUDY_DAY} AS offset_d, cents
      FROM daily
      WHERE d >= {EVENT_STUDY_DAY} - {EVENT_WINDOW}
        AND d <= {EVENT_STUDY_DAY} + {EVENT_WINDOW}
    ),
    ab AS (
      SELECT w.offset_d, w.cents,
             w.cents - CAST(b.base_sum AS DOUBLE) / b.base_days AS abnormal
      FROM win w, baseline b
    )
    SELECT offset_d, cents AS actual_cents,
           abnormal AS abnormal_cents,
           SUM(abnormal) OVER (ORDER BY offset_d ROWS UNBOUNDED PRECEDING)
             AS cumulative_abnormal
    FROM ab
    """,
)
def q372_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT STUDY — finance's launch-impact lens without a control
    group: each day in the ±5-day window around the
    event earns an ABNORMAL return (actual minus the pre-window
    baseline mean — the counterfactual is the series' own calm
    past), and the CUMULATIVE abnormal return (CAR) is the running
    sum whose post-event drift is the effect estimate. Complements
    the causal shelf's designs: q327's DiD differences out a control
    GROUP; the event study differences out a control PERIOD — what
    you run when everyone got the treatment at once (price change,
    outage, press). Baseline strictly precedes the window (no
    event-day leakage into the counterfactual — the classic bug);
    abnormal returns are fixed-order floats off exact cents; the CAR
    fold is an ordered cumulative window over 2·5+1
    rows. Per-security studies at scale = one more partition key on
    every window."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    baseline = daily.filter(
        F.col("d") < EVENT_STUDY_DAY - EVENT_WINDOW
    ).agg(
        F.sum("cents").cast("long").alias("base_sum"),
        F.count(F.lit(1)).cast("long").alias("base_days"),
    )
    win = daily.filter(
        (F.col("d") >= EVENT_STUDY_DAY - EVENT_WINDOW)
        & (F.col("d") <= EVENT_STUDY_DAY + EVENT_WINDOW)
    ).select((F.col("d") - EVENT_STUDY_DAY).alias("offset_d"), "cents")
    ab = win.crossJoin(F.broadcast(baseline)).select(
        "offset_d",
        F.col("cents").alias("actual_cents"),
        (
            F.col("cents")
            - F.col("base_sum").cast("double") / F.col("base_days")
        ).alias("abnormal_cents"),
    )
    wc = Window.orderBy("offset_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ab.select(
        "offset_d",
        "actual_cents",
        "abnormal_cents",
        F.sum("abnormal_cents").over(wc).alias("cumulative_abnormal"),
    )


def _dow_terms(prefix: str) -> str:
    return " + ".join(f"{prefix}{i}" for i in range(7))


_SEAS_COLS_SQL = ", ".join(
    f"""CAST(SUM(CASE WHEN d % 7 = {i} THEN 1 ELSE 0 END) AS BIGINT) AS n{i},
        CAST(SUM(CASE WHEN d % 7 = {i} THEN dollars ELSE 0 END) AS BIGINT) AS s{i},
        CAST(SUM(CASE WHEN d % 7 = {i} THEN dollars * dollars ELSE 0 END)
          AS BIGINT) AS q{i}"""
    for i in range(7)
)
_SEAS_SSB = " + ".join(f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(7))


@query(
    "q374_seasonality_strength",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT)
               AS dollars
      FROM events GROUP BY 1, 2
    ),
    piv AS (
      SELECT event_type, {_SEAS_COLS_SQL}
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(({_dow_terms("n")}) AS BIGINT) AS n_days,
           (({_SEAS_SSB})
            - CAST(({_dow_terms("s")}) AS DOUBLE) * ({_dow_terms("s")})
              / ({_dow_terms("n")}))
           / (CAST(({_dow_terms("q")}) AS DOUBLE)
              - CAST(({_dow_terms("s")}) AS DOUBLE) * ({_dow_terms("s")})
                / ({_dow_terms("n")})) AS eta_squared,
           (({_SEAS_SSB})
            - CAST(({_dow_terms("s")}) AS DOUBLE) * ({_dow_terms("s")})
              / ({_dow_terms("n")}))
           / (CAST(({_dow_terms("q")}) AS DOUBLE)
              - CAST(({_dow_terms("s")}) AS DOUBLE) * ({_dow_terms("s")})
                / ({_dow_terms("n")})) > 0.3 AS is_seasonal
    FROM piv
    """,
)
def q374_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONALITY STRENGTH — "does day-of-week explain this series":
    eta-squared of the weekly cycle, i.e. the between-day-of-week sum
    of squares over the total (q323's one-way ANOVA pointed at the
    calendar; Hyndman's `seasonal_strength` is the STL-based cousin).
    Above the 0.3 line, q321's seasonal-naive forecaster and q159's
    slot baselines are the right defaults; below it they just add
    variance — this query is the ROUTER for that decision. Day-of-
    week is d mod 7 on days-since-Monday-2024-01-01 (the q292
    engine-neutral rule, never dayofweek()); per-type moments pivot
    to 21 literal columns so every float combines in one fixed
    expression; integer dollars keep Σx² safe. Cost: the daily rollup
    is the only real shuffle; the ANOVA itself runs on a
    calendar-bounded aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("dollars")
    )
    aggs = []
    for i in range(7):
        cond = F.col("d") % 7 == i
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(cond, F.col("dollars")).otherwise(0))
            .cast("long")
            .alias(f"s{i}"),
            F.sum(F.when(cond, F.col("dollars") * F.col("dollars")).otherwise(0))
            .cast("long")
            .alias(f"q{i}"),
        ]
    piv = daily.groupBy("event_type").agg(*aggs)
    nn, ss, qq = _dow_terms("n"), _dow_terms("s"), _dow_terms("q")
    eta = (
        f"(({_SEAS_SSB}) - CAST(({ss}) AS DOUBLE) * ({ss}) / ({nn}))"
        f" / (CAST(({qq}) AS DOUBLE)"
        f" - CAST(({ss}) AS DOUBLE) * ({ss}) / ({nn}))"
    )
    return piv.selectExpr(
        "event_type",
        f"CAST(({nn}) AS BIGINT) AS n_days",
        f"{eta} AS eta_squared",
        f"{eta} > 0.3 AS is_seasonal",
    )


PERIOD_LAGS = (2, 3, 4, 5, 6, 7, 8, 9, 10)


@query(
    "q392_dominant_period",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT)
               AS dollars
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT a.event_type, l.lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.dollars) AS BIGINT) AS sx,
             CAST(SUM(b.dollars) AS BIGINT) AS sy,
             CAST(SUM(a.dollars * b.dollars) AS BIGINT) AS sxy,
             CAST(SUM(a.dollars * a.dollars) AS BIGINT) AS sxx,
             CAST(SUM(b.dollars * b.dollars) AS BIGINT) AS syy
      FROM daily a
      JOIN (SELECT UNNEST(ARRAY{list(PERIOD_LAGS)}) AS lag) l ON TRUE
      JOIN daily b ON b.event_type = a.event_type AND b.d = a.d + l.lag
      GROUP BY a.event_type, l.lag
    ),
    acfs AS (
      SELECT event_type, lag, n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS acf
      FROM lagged
    ),
    best AS (
      SELECT event_type, lag, n, acf,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY acf DESC, lag) AS rnk
      FROM acfs
    )
    SELECT event_type, CAST(lag AS BIGINT) AS dominant_period_days,
           CAST(n AS BIGINT) AS n_pairs, acf
    FROM best WHERE rnk = 1
    """,
)
def q392_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMINANT-PERIOD DETECTION — q374 assumes the cycle is weekly and
    asks how strong; this asks WHICH cycle: the lag in 2..10 days
    maximizing the lagged autocorrelation (the poor-engineer's
    periodogram, exact where an FFT would drag in float transforms
    Spark and DuckDB needn't agree on). Each lag's ACF is a full
    Pearson on the overlapping pairs (q23's cross-multiplied
    integers; both margins' variances, not the naive shared-mean
    shortcut that biases short series), the lag grid is one literal
    explode joined against the shifted series — nine lags cost one
    self-join pass, not nine. Argmax with small-lag tiebreak. The
    detected period feeds q321's LAG parameter and q374's grouping —
    a 7 here is the data voting for the weekly model. Bounded:
    calendar x lags rows."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("dollars")
    )
    lags = spark.createDataFrame([(l,) for l in PERIOD_LAGS], "lag long")
    a = daily.select("event_type", "d", F.col("dollars").alias("x"))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("dollars").alias("y"),
    )
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("d2") == F.col("d") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
    )
    acfs = lagged.selectExpr(
        "event_type",
        "lag",
        "n",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS acf",
    )
    w = Window.partitionBy("event_type").orderBy(F.col("acf").desc(), "lag")
    return (
        acfs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("dominant_period_days"),
            F.col("n").cast("bigint").alias("n_pairs"),
            "acf",
        )
    )


@query(
    "q406_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(d * d) AS BIGINT) AS sxx,
             CAST(SUM(d * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM daily GROUP BY event_type
    ),
    diffs AS (
      SELECT event_type,
             CAST(SUM((y - py) * (y - py)) AS BIGINT) AS sdyy,
             CAST(SUM((y - py) * (d - pd)) AS BIGINT) AS sdxy,
             CAST(SUM((d - pd) * (d - pd)) AS BIGINT) AS sdxx
      FROM (
        SELECT event_type, d, y,
               LAG(d) OVER w AS pd, LAG(y) OVER w AS py
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
      ) WHERE pd IS NOT NULL
      GROUP BY event_type
    ),
    fit AS (
      SELECT m.event_type, m.n, df.sdyy, df.sdxy, df.sdxx,
             (CAST(m.n AS DOUBLE) * m.sxy - CAST(m.sx AS DOUBLE) * m.sy)
               / (CAST(m.n AS DOUBLE) * m.sxx - CAST(m.sx AS DOUBLE) * m.sx)
               AS b,
             CAST(m.syy AS DOUBLE) - CAST(m.sy AS DOUBLE) * m.sy / m.n AS cyy,
             CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n AS cxy,
             CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n AS cxx
      FROM mom m JOIN diffs df ON df.event_type = m.event_type
    )
    SELECT event_type, n, b AS ols_slope,
           (sdyy - 2 * b * sdxy + b * b * sdxx)
             / (cyy - 2 * b * cxy + b * b * cxx) AS dw,
           (sdyy - 2 * b * sdxy + b * b * sdxx)
             / (cyy - 2 * b * cxy + b * b * cxx) < 1.5 AS positive_autocorr
    FROM fit
    """,
)
def q406_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON — the residual-autocorrelation check that decides
    whether q120/q187/q350's regression standard errors can be
    believed: DW ≈ 2 means independent residuals, toward 0 means the
    errors trend together and the OLS CIs are optimistic fiction (the
    q385 clustering problem in its time-series costume). The parity
    trick is that residuals are NEVER materialized: e_t − e_{t−1} =
    Δy − b·Δx, so both the numerator Σ(Δe)² and the denominator Σe²
    expand into INTEGER lag-moment and central-moment sums combined
    with b in one fixed float expression — no per-row float, nothing
    to order (the q392 moment-algebra discipline; a per-row residual
    sum would have needed an ordered fold). One grouped moment pass,
    one LAG pass, both calendar-bounded. Property-tested: 0 <= DW <=
    4, a planted AR(1)-like residual series scores < 1, white noise
    scores near 2."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    diffs = (
        daily.select(
            "event_type",
            "d",
            "y",
            F.lag("d").over(w).alias("pd"),
            F.lag("y").over(w).alias("py"),
        )
        .filter(F.col("pd").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum((F.col("y") - F.col("py")) * (F.col("y") - F.col("py")))
            .cast("long")
            .alias("sdyy"),
            F.sum((F.col("y") - F.col("py")) * (F.col("d") - F.col("pd")))
            .cast("long")
            .alias("sdxy"),
            F.sum((F.col("d") - F.col("pd")) * (F.col("d") - F.col("pd")))
            .cast("long")
            .alias("sdxx"),
        )
    )
    fit = mom.join(diffs, "event_type").selectExpr(
        "event_type",
        "n",
        "sdyy",
        "sdxy",
        "sdxx",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b",
        "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy",
        "CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy",
        "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx",
    )
    return fit.selectExpr(
        "event_type",
        "n",
        "b AS ols_slope",
        "(sdyy - 2 * b * sdxy + b * b * sdxx)"
        " / (cyy - 2 * b * cxy + b * b * cxx) AS dw",
        "(sdyy - 2 * b * sdxy + b * b * sdxx)"
        " / (cyy - 2 * b * cxy + b * b * cxx) < 1.5 AS positive_autocorr",
    )


@query(
    "q419_holt_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(floor(value + 0.5) AS BIGINT)) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    folded AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             list_reduce(
               list([y, CAST(0.0 AS DOUBLE)] ORDER BY d),
               (a, x) -> [(x[1] + a[1] + a[2]) / 2,
                          (((x[1] + a[1] + a[2]) / 2) - a[1] + a[2]) / 2]
             ) AS st
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days,
           st[1] AS level_s,
           st[2] AS trend_b,
           st[1] + 7 * st[2] AS forecast_7d
    FROM folded
    """,
)
def q419_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND smoothing (double exponential smoothing, α=β=½)
    over each event type's daily count series — the trend-aware
    extension of q130's EWMA: level s_t = (y_t + s_{t−1} + b_{t−1})/2,
    trend b_t = ((s_t − s_{t−1}) + b_{t−1})/2, forecast = s + 7b. The
    recursion is order-DEPENDENT float state, which is exactly the case
    the ordered-fold parity rule exists for (q328/q373/q390): Spark
    folds F.aggregate over a sort_array'd (day, y) list with a
    struct(s, b) accumulator, DuckDB folds list_reduce over
    list(... ORDER BY d) with a [s, b] list accumulator, and BOTH
    evaluate the IDENTICAL arithmetic expression tree in the identical
    order — b_t recomputes s_t inline rather than referencing it, so
    the two engines' op sequences are the same IEEE stream and the
    hash matches bit-for-bit. Initialization: first element seeds
    [y_1, 0] (DuckDB's fold-from-first; Spark slices the array and
    seeds the zero explicitly). The fold state is 16 bytes per group
    regardless of series length; the grouped collect_list is bounded
    by the calendar (30 days here), never raw events — at 100 TB the
    pre-aggregate does the heavy lifting map-side. Property tests: a
    planted pure-trend series (y = c + m·t) converges to trend ≈ m,
    and a numpy replay of the recursion matches exactly."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") + F.lit(0.5)).cast("long"))
        .cast("double")
        .alias("y")
    )
    return holt_smooth(daily, "event_type")


def holt_smooth(daily: DataFrame, group_col: str) -> DataFrame:
    """Ordered-fold Holt smoothing over ``(group_col, d, y)`` rows; see
    q419. Factored out so property tests can plant synthetic series."""
    arr = F.transform(
        F.sort_array(
            F.collect_list(F.struct(F.col("d").alias("d"), F.col("y").alias("y")))
        ),
        lambda s: s["y"],
    )
    folded = daily.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.struct(
                F.element_at(arr, 1).alias("s"), F.lit(0.0).cast("double").alias("b")
            ),
            lambda acc, x: F.struct(
                ((x + acc["s"] + acc["b"]) / 2).alias("s"),
                ((((x + acc["s"] + acc["b"]) / 2) - acc["s"] + acc["b"]) / 2).alias(
                    "b"
                ),
            ),
        ).alias("st"),
    )
    return folded.select(
        group_col,
        "n_days",
        F.col("st.s").alias("level_s"),
        F.col("st.b").alias("trend_b"),
        (F.col("st.s") + 7 * F.col("st.b")).alias("forecast_7d"),
    )


@query(
    "q431_median_decomposition",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    seas AS (
      SELECT event_type, d % 7 AS dow,
             CAST(list_sort(list(y))[CAST((COUNT(*) + 1) // 2 AS INTEGER)]
                  AS BIGINT) AS seasonal
      FROM daily GROUP BY event_type, d % 7
    ),
    dz AS (
      SELECT dd.event_type, dd.d, dd.y, s.seasonal,
             dd.y - s.seasonal AS deseason
      FROM daily dd JOIN seas s
        ON s.event_type = dd.event_type AND s.dow = dd.d % 7
    ),
    tr AS (
      SELECT event_type, d, y, seasonal, deseason,
             CAST(list_sort(list(deseason) OVER w)
                    [CAST((COUNT(*) OVER w + 1) // 2 AS INTEGER)] AS BIGINT)
               AS trend
      FROM dz
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT event_type, d, y, seasonal, trend,
           y - seasonal - trend AS remainder
    FROM tr
    """,
)
def q431_median_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST SEASONAL DECOMPOSITION by medians — the STL idea with the
    loess swapped for order statistics so every component stays an
    EXACT INTEGER: y = seasonal + trend + remainder, where seasonal is
    the per-day-of-week LOWER MEDIAN of the daily count (medians shrug
    off the spike days that would drag a dow-mean, q127's robustness
    argument), trend is a ±3-day RANGE-frame rolling lower median of
    the deseasonalized series, and the remainder is what anomaly
    detection should actually be run on (q159 thresholds raw
    slot-baselines; THIS hands it a series with the weekly shape and
    the drift already removed). Lower-median convention throughout
    ((n+1)//2-th smallest — both engines sort-and-index the same
    window list, integers, no interpolation), RANGE frame so calendar
    gaps would shrink the window rather than smear across them. The
    window list is bounded by the frame (7 elements), the groups by
    the calendar — the q91 rule. Property tests: the three components
    re-add to y exactly on every row; planting a +500 spike on one day
    leaves all OTHER days' trend within the spike-free baseline's
    (median robustness, the property a mean-based trend fails)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    seas = (
        daily.groupBy("event_type", (F.col("d") % 7).alias("dow"))
        .agg(
            F.element_at(
                F.sort_array(F.collect_list("y")),
                F.expr("CAST((count(1) + 1) div 2 AS INT)"),
            )
            .cast("long")
            .alias("seasonal")
        )
    )
    dz = (
        daily.withColumn("dow", F.col("d") % 7)
        .join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            "d",
            "y",
            "seasonal",
            (F.col("y") - F.col("seasonal")).alias("deseason"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("d").rangeBetween(-3, 3)
    tr = dz.withColumn(
        "trend",
        F.element_at(
            F.sort_array(F.collect_list("deseason").over(w)),
            ((F.count(F.lit(1)).over(w) + 1) / 2).cast("int"),
        ).cast("long"),
    )
    return tr.select(
        "event_type",
        "d",
        "y",
        "seasonal",
        "trend",
        (F.col("y") - F.col("seasonal") - F.col("trend")).alias("remainder"),
    )


@query(
    "q432_locf_gapfill",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS val_c
      FROM events
      WHERE value > 300
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT et.event_type, CAST(gs.g AS BIGINT) AS d
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN (SELECT UNNEST(range(0, 30)) AS g) gs
    ),
    joined AS (
      SELECT s.event_type, s.d, o.val_c
      FROM spine s LEFT JOIN obs o
        ON o.event_type = s.event_type AND o.d = s.d
    )
    SELECT event_type, d, val_c AS observed_c,
           last_value(val_c IGNORE NULLS) OVER w AS filled_c,
           val_c IS NOT NULL AS is_observed,
           d - last_value(CASE WHEN val_c IS NOT NULL THEN d END IGNORE NULLS)
                 OVER w AS staleness_days
    FROM joined
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q432_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap fill with staleness
    accounting — the OTHER gap-fill semantics next to q91's linear
    interpolation: sensor/price-style series must NOT invent
    intermediate values (a price between two trades was the LAST
    trade, not a blend), so sparse observations (days whose max
    purchase-band value exceeded the $300 threshold) are spread onto
    the dense 30-day calendar spine, nulls fill FORWARD only, leading
    nulls stay null (no look-ahead — the q33 leakage rule), and every
    filled row carries `staleness_days` (distance to its source
    observation — the freshness metric a serving layer alerts on,
    q295's coverage-gap question asked per-row). The engine surface is
    the point: this is `last_value(x IGNORE NULLS)` over a running
    frame — Spark spells it F.last(col, ignorenulls=True) / trailing
    `IGNORE NULLS`, DuckDB puts the modifier INSIDE the call — same
    ANSI semantics, syntactically disjoint, which is exactly why it
    cannot join the shared-text corpus (q420/q430) and gets the
    hash-checked oracle treatment instead. Cents stay exact integers.
    Property tests: filled equals the most recent observation at or
    before each row (python replay); staleness is 0 exactly on
    observed rows and increments by 1 across unobserved runs."""
    ev = load(spark, sf_dir, "events")
    obs = (
        ev.filter(F.col("value") > 300)
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.max(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("val_c")
        )
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                load(spark, sf_dir, "events")
                .sparkSession.range(0, 30)
                .select(F.col("id").cast("long").alias("d"))
            )
        )
    )
    joined = spine.join(obs, ["event_type", "d"], "left")
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return joined.select(
        "event_type",
        "d",
        F.col("val_c").alias("observed_c"),
        F.last("val_c", ignorenulls=True).over(w).alias("filled_c"),
        F.col("val_c").isNotNull().alias("is_observed"),
        (
            F.col("d")
            - F.last(
                F.when(F.col("val_c").isNotNull(), F.col("d")), ignorenulls=True
            ).over(w)
        ).alias("staleness_days"),
    )


@query(
    "q443_stockout_projection",
    oracle="""
    WITH parts AS (
      SELECT p_partkey,
             CAST(p_size AS BIGINT) * 40 + 200 AS start_stock
      FROM part WHERE p_partkey % 17 = 0
    ),
    demand AS (
      SELECT l.l_partkey,
             CAST(CAST(l.l_shipdate AS DATE) - DATE '1995-01-01' AS BIGINT)
               AS d,
             CAST(SUM(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN parts p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    run AS (
      SELECT p.p_partkey, p.start_stock, dd.d, dd.qty,
             p.start_stock
               - SUM(dd.qty) OVER (PARTITION BY dd.l_partkey ORDER BY dd.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS stock_after
      FROM demand dd JOIN parts p ON p.p_partkey = dd.l_partkey
    )
    SELECT p.p_partkey, p.start_stock,
           CAST(COALESCE(t.total_demand, 0) AS BIGINT) AS total_demand,
           s.first_stockout_d,
           s.first_stockout_d IS NOT NULL AS stocks_out
    FROM parts p
    LEFT JOIN (
      SELECT p_partkey, CAST(MIN(d) AS BIGINT) AS first_stockout_d
      FROM run WHERE stock_after < 0 GROUP BY p_partkey
    ) s ON s.p_partkey = p.p_partkey
    LEFT JOIN (
      SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_demand
      FROM demand GROUP BY l_partkey
    ) t ON t.l_partkey = p.p_partkey
    """,
)
def q443_stockout_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOCKOUT PROJECTION — the inventory-depletion question asked of a
    demand ledger: given each part's opening stock (size-derived
    deterministic fixture) and its daily shipped quantities, find the
    FIRST day the running balance crosses below zero. This is the
    level-crossing shape (q294's drawdown, q185's clamped balance)
    pointed at operations: cumulative demand per part (ordered window
    over the per-day rollup — calendar-bounded, the q91 rule), one
    filter for negative balance, MIN(day) for the crossing, and LEFT
    joins so parts that never stock out surface with NULL (the
    at-risk-vs-healthy partition a replenishment planner consumes).
    Exact integer units throughout (floor of the DOUBLE quantity —
    the q340 rule). At 100 TB: the only big operation is the per-
    (part, day) demand rollup (map-side combinable); the window runs
    on the compacted series. Property tests: a python replay of the
    depletion per part; stock_after at the stockout day is strictly
    negative while the day before is >= 0; parts with total demand <=
    start stock never flag."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 17 == 0)
        .select(
            "p_partkey",
            (F.col("p_size").cast("long") * 40 + 200).alias("start_stock"),
        )
    )
    li = load(spark, sf_dir, "lineitem")
    demand = (
        # p is a part subset (scales with the corpus) — size-gated, no
        # hint (r12 broadcast-growth audit: 12→118 rows at 10× data)
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "l_partkey",
            F.datediff(F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .agg(F.sum(F.floor("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    w = Window.partitionBy("l_partkey").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = demand.join(p, demand.l_partkey == p.p_partkey).select(
        "l_partkey",
        "d",
        (F.col("start_stock") - F.sum("qty").over(w)).alias("stock_after"),
    )
    stockout = (
        run.filter(F.col("stock_after") < 0)
        .groupBy("l_partkey")
        .agg(F.min("d").cast("long").alias("first_stockout_d"))
    )
    totals = demand.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total_demand")
    )
    return (
        p.join(stockout, p.p_partkey == stockout.l_partkey, "left")
        .drop(stockout.l_partkey)
        .join(totals, p.p_partkey == totals.l_partkey, "left")
        .drop(totals.l_partkey)
        .select(
            "p_partkey",
            "start_stock",
            F.coalesce("total_demand", F.lit(0)).cast("long").alias("total_demand"),
            "first_stockout_d",
            F.col("first_stockout_d").isNotNull().alias("stocks_out"),
        )
    )


@query(
    "q454_tolerance_dedup",
    oracle="""
    WITH raw AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             event_id
      FROM events
    ),
    base AS (
      SELECT * FROM raw
      UNION ALL
      SELECT user_id, event_type, sec + 1, event_id + 1000000
      FROM raw WHERE event_id % 5 = 0
    ),
    flagged AS (
      SELECT user_id, event_type, sec, event_id,
             CASE WHEN sec - lag(sec) OVER w <= 2 THEN 0 ELSE 1 END
               AS is_head
      FROM base
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY sec, event_id)
    ),
    grp AS (
      SELECT user_id, event_type, sec, event_id,
             SUM(is_head) OVER (PARTITION BY user_id, event_type
                                ORDER BY sec, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS g
      FROM flagged
    )
    SELECT user_id, event_type,
           CAST(MIN(event_id) AS BIGINT) AS kept_event_id,
           CAST(MIN(sec) AS BIGINT) AS first_sec,
           CAST(COUNT(*) AS BIGINT) AS n_collapsed
    FROM grp GROUP BY user_id, event_type, g
    """,
)
def q454_tolerance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOLERANCE-WINDOW DEDUPLICATION — the at-least-once ingestion fix
    exact-key dedup (q41/q95/q249) cannot express: duplicate deliveries
    arrive with CLOCK SKEW, so 'same user, same event type, within 2
    seconds' is one logical event even though no column pair is equal.
    The half-right fix people ship — `sec - lag(sec) <= 2` as a row
    FILTER — breaks on chains (a, a+2, a+4 drops the middle row but
    keeps a+4, which is 4s from the survivor); the correct semantics
    is gaps-and-islands with a CHAIN rule: a new group starts only
    where the gap from the PREVIOUS row exceeds the tolerance (the
    q37/q147 sessionizer with a 2-second gap), and each island
    collapses to its earliest event (deterministic keeper:
    min event_id). The fixture plants the failure it detects (the q54/
    q425 corrupted-copy discipline): every 5th event is re-delivered
    one second later under a shifted id, and the query must collapse
    exactly those echoes back out. Output keeps the collapse COUNT per
    surviving event — the duplicate-rate observability an ingestion
    dashboard wants. One shuffle on (user, type); the two windows share the
    partitioning (plan-audited shape, q40's rule). Property tests: a
    planted a/a+1/a+2 chain collapses to ONE event (the chain rule),
    islands more than 2s apart never merge, and Σ n_collapsed ==
    input rows (conservation)."""
    ev = load(spark, sf_dir, "events")
    raw = ev.select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    )
    base = raw.unionAll(
        raw.filter(F.col("event_id") % 5 == 0).select(
            "user_id",
            "event_type",
            (F.col("sec") + 1).alias("sec"),
            (F.col("event_id") + 1000000).alias("event_id"),
        )
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    flagged = base.withColumn(
        "is_head",
        F.when(F.col("sec") - F.lag("sec").over(w) <= 2, 0).otherwise(1),
    )
    grp = flagged.withColumn(
        "g",
        F.sum("is_head").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy("user_id", "event_type", "g").agg(
        F.min("event_id").cast("long").alias("kept_event_id"),
        F.min("sec").cast("long").alias("first_sec"),
        F.count(F.lit(1)).cast("long").alias("n_collapsed"),
    ).drop("g")
