"""Event-stream analytics: funnel conversion, cohort retention, and
document keyword extraction — the OLAP trio every events warehouse runs
daily (the reference's user-journey audit SQL,
bronze_silver_validation_queries.sql:63-118, generalized). All exactly
SQL-expressible, so every query here is hash-checked against DuckDB;
timestamps stay in microseconds on both engines (tables.load truncates
the parquet nanos identically to DuckDB's read).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.session import local_frame
from hoops_edge_database_etl_spark.tables import load


@query(
    "q89_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
    ) s
    """,
)
def q89_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): a user counts
    at step N only with an event strictly after their step-N−1 time.
    Each stage is one groupBy-min plus an equi join on user_id — three
    shuffles on the same key, so at scale the exchanges reuse one
    partitioning (and the per-stage frames shrink monotonically). No
    window over the raw stream, no per-user sort. The view and click
    stage tables are localCheckpointed (r11 fact-rescan audit) — each
    has TWO consumers (the next stage and its own count row), so
    without a materialization the funnel re-executed upstream stages
    per consumer (6 fact scans; 3 — one per event-type filter — is the
    structural minimum). The purchase stage has a single consumer and
    needs no checkpoint."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )

    def stage(df: DataFrame, step: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    return stage(v, 1, "view").unionByName(stage(c, 2, "click")).unionByName(
        stage(p, 3, "purchase")
    )


@query(
    "q90_cohort_retention",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    j AS (
      SELECT date_diff('day', DATE '2024-01-01', f.first_day) // 7 AS cohort_week,
             date_diff('day', f.first_day, a.day) // 7 AS week_offset,
             a.user_id
      FROM a JOIN f USING (user_id)
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY cohort_week, week_offset
    """,
)
def q90_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by the week of their first
    event (week index from a fixed epoch — cross-engine exact integer
    date math, no locale-dependent week functions), counted in every
    week-offset they return. Two shuffles on user_id (first-day agg +
    the distinct-day self-join reuse the partitioning) then one on the
    (cohort, offset) cell — the matrix itself is weeks², driver-tiny at
    any data scale."""
    ev = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    f = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    a = ev.select("user_id", day.alias("day")).distinct()
    j = a.join(f, "user_id").select(
        F.floor(
            F.datediff(F.col("first_day"), F.lit("2024-01-01").cast("date")) / 7
        ).alias("cohort_week"),
        F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7).alias("week_offset"),
        "user_id",
    )
    return j.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    ).select(
        F.col("cohort_week").cast("bigint").alias("cohort_week"),
        F.col("week_offset").cast("bigint").alias("week_offset"),
        "n_users",
    )


@query(
    "q92_keyword_extraction",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tf AS (
      SELECT doc_id, t.tok AS token, COUNT(*) AS tf
      FROM toks, UNNEST(w) AS t(tok)
      WHERE t.tok <> ''
      GROUP BY doc_id, t.tok
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.token
             ) AS kw_rank
      FROM tf JOIN df USING (token) CROSS JOIN n
      WHERE CAST(df.df AS DOUBLE) / CAST(n.n_docs AS DOUBLE) <= 0.2
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(kw_rank AS BIGINT) AS kw_rank
    FROM ranked WHERE kw_rank <= 3
    """,
)
def q92_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style keyword extraction, integer-exact: top-3 tokens per
    document ranked by term frequency with document frequency as the
    inverse-salience tiebreak, after dropping corpus-stopwords (df >
    20% of docs) — the ln-free form of tf·idf ranking that both engines
    reproduce bit-for-bit (a float idf would hang cross-engine parity on
    libm's log). Two map-side-combining shuffles (tf, df) plus the
    associative two-phase top-k — no per-doc sort owns a reducer."""
    from hoops_edge_database_etl_spark.operators.topk import top_k_per_group

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    tf = (
        d.select("doc_id", F.explode("w").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    cand = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df").cast("double") / F.col("n_docs").cast("double") <= 0.2)
    )
    out = top_k_per_group(
        cand,
        ["doc_id"],
        [F.col("tf").desc(), F.col("df").asc(), F.col("token")],
        3,
        rank_col="kw_rank",
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "token",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.col("kw_rank").cast("bigint").alias("kw_rank"),
    )


def _skyline_kernel(pdf):
    """Exact 2-D skyline of (maximize price_c, minimize size): sort by
    (price desc, size asc); a price-group survives only when its min size
    strictly undercuts every higher-priced point's best size, and within
    a group only min-size points survive (same price + smaller size
    dominates). O(n log n), duplicate points all kept (mutual
    non-dominance needs strictness in one dimension)."""
    import numpy as np

    p = pdf.sort_values(["price_c", "size"], ascending=[False, True], kind="mergesort")
    keep = np.zeros(len(p), dtype=bool)
    best = None  # smallest size seen among strictly-higher prices
    prices = p["price_c"].to_numpy()
    sizes = p["size"].to_numpy()
    i = 0
    while i < len(p):
        j = i
        while j < len(p) and prices[j] == prices[i]:
            j += 1
        gmin = sizes[i:j].min()
        if best is None or gmin < best:
            keep[i:j] = sizes[i:j] == gmin
            best = gmin if best is None else min(best, gmin)
        i = j
    return p[keep]


@query(
    "q119_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
             CAST(p_retailprice * 100 AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT p.p_partkey, p.price_c, p.size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price_c >= p.price_c AND q.size <= p.size
        AND (q.price_c > p.price_c OR q.size < p.size)
    )
    """,
)
def q119_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Pareto frontier (skyline): parts maximizing retail
    price while minimizing size, with integer-cents dimensions so the
    dominance test is exact. Two-phase plan — the distributed-skyline
    identity ``skyline(X ∪ Y) = skyline(skyline(X) ∪ skyline(Y))``:

      1. local skyline per input partition (mapInPandas — each partition
         reduced to its own frontier, typically a tiny fraction);
      2. global skyline over the unioned candidates in one bounded
         group (survivor count is frontier-sized by construction).

    No dominance self-join anywhere (the naive NOT EXISTS the ORACLE
    runs would be a nested-loop quadratic — fine for DuckDB at sf0.01,
    wrong at 100 TB). At extreme candidate counts, insert a grid-cell
    pre-dominance pass (coarse quantile buckets, drop cells dominated by
    a whole cell) before phase 2 — same kernel either way."""
    p = load(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        (F.col("p_retailprice") * 100).cast("long").alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    schema = "p_partkey long, price_c long, size long"
    local = pts.mapInPandas(
        lambda it: (_skyline_kernel(pdf) for pdf in it), schema=schema
    )
    merged = (
        local.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: _skyline_kernel(pdf.drop(columns="__g")), schema=schema
        )
    )
    return merged


@query(
    "q121_interval_concurrency",
    oracle="""
    WITH iv AS (
      SELECT o_orderpriority AS prio,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 + 1 AS INTEGER) AS e
      FROM orders
    ),
    delta AS (
      SELECT prio, d, SUM(x) AS net FROM (
        SELECT prio, s AS d, 1 AS x FROM iv
        UNION ALL
        SELECT prio, e AS d, -1 AS x FROM iv
      ) GROUP BY prio, d
    ),
    run AS (
      SELECT prio, d,
             SUM(net) OVER (PARTITION BY prio ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS active
      FROM delta
    )
    SELECT prio,
           CAST(active AS BIGINT) AS max_concurrent,
           strftime(d, '%Y-%m-%d') AS peak_day
    FROM (
      SELECT prio, d, active,
             ROW_NUMBER() OVER (PARTITION BY prio
                                ORDER BY active DESC, d ASC) AS rn
      FROM run
    ) WHERE rn = 1
    """,
)
def q121_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per order priority — the classic
    boundary-sweep (+1 at start, −1 past end, half-open [s, e)): how many
    orders are simultaneously open at the busiest instant. The sweep
    collapses boundaries to NET-PER-DAY before any ordering, so the
    running sum's window is bounded by the DATE RANGE per priority (a
    few thousand rows), never the order count — the q91 calendar-bound
    rule; the only full-data pass is the map-side-combining delta
    aggregate. Peak day ties break to the earliest day (deterministic
    rank in both engines)."""
    o = load(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("s"),
        F.date_add(F.col("o_orderdate"), (F.col("o_orderkey") % 30 + 1).cast("int")).alias("e"),
    )
    delta = (
        iv.select("prio", F.col("s").alias("d"), F.lit(1).alias("x"))
        .unionAll(iv.select("prio", F.col("e").alias("d"), F.lit(-1).alias("x")))
        .groupBy("prio", "d")
        .agg(F.sum("x").alias("net"))
    )
    w = Window.partitionBy("prio").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = delta.withColumn("active", F.sum("net").over(w))
    rk = Window.partitionBy("prio").orderBy(F.col("active").desc(), F.col("d").asc())
    return (
        run.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .select(
            "prio",
            F.col("active").cast("bigint").alias("max_concurrent"),
            F.date_format("d", "yyyy-MM-dd").alias("peak_day"),
        )
    )


@query(
    "q124_touch_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type <> 'purchase' THEN event_type END AS touch,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch
      FROM events
    )
    SELECT last_touch, first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM seq
    WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    GROUP BY last_touch, first_touch
    """,
)
def q124_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution — the marketing-analytics
    classic: every purchase is credited to the nearest preceding
    non-purchase touch (last-touch) AND the user's earliest touch
    (first-touch), in one pass with two ignore-nulls window scans over
    the per-user event sequence ((ts, event_id) total order — the unique
    tiebreak rule every window in this repo follows). Purchases with no
    prior touch are excluded (no attribution target). One shuffle on
    user_id; per-user sequences are session-bounded at any corpus size."""
    ev = load(spark, sf_dir, "events")
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w)).withColumn(
        "first_touch", F.first(touch, ignorenulls=True).over(w)
    )
    return (
        seq.filter((F.col("event_type") == "purchase") & F.col("last_touch").isNotNull())
        .groupBy("last_touch", "first_touch")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


@query(
    "q128_sliding_distinct",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
    ),
    mx AS (SELECT MAX(day) AS mxd FROM d),
    f AS (
      SELECT event_type, user_id, day + CAST(r.x AS INTEGER) AS wday
      FROM d, range(7) r(x)
    )
    SELECT event_type, wday AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_7d,
           CAST(COUNT(*) AS BIGINT) AS n_user_days_7d
    FROM f, mx WHERE wday <= mx.mxd
    GROUP BY event_type, wday
    """,
)
def q128_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per event type — the sliding
    COUNT DISTINCT that a naive window-function plan cannot express
    (count_distinct is not a Spark window aggregate) and a per-day
    self-range-join would re-scan 7×. Plan: dedup the raw stream to
    (type, day, user) once, fan each active pair out to the ≤7 window
    ends it participates in (explode of a 7-element sequence — bounded,
    unlike the stream itself), then one count-distinct shuffle per
    (type, window_end). At 100 TB the fan-out operates on the DEDUPED
    activity set (|users|×|days| worst case), not the event stream, and
    the count-distinct partials combine map-side. Reference analogue:
    the rolling-activity audit in bronze_silver_validation_queries.sql."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    mx = d.agg(F.max("day").alias("mxd"))
    f = d.withColumn("x", F.explode(F.sequence(F.lit(0), F.lit(6)))).select(
        "event_type", "user_id", F.date_add("day", F.col("x")).alias("window_end")
    )
    return (
        f.crossJoin(F.broadcast(mx))
        .filter(F.col("window_end") <= F.col("mxd"))
        .groupBy("event_type", "window_end")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users_7d"),
            F.count(F.lit(1)).cast("bigint").alias("n_user_days_7d"),
        )
    )


@query(
    "q129_ts_interpolate",
    oracle="""
    WITH sparse AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events
      WHERE dayofmonth(CAST(ts AS DATE)) % 3 <> 0
      GROUP BY 1, 2
    ),
    ext AS (
      SELECT event_type, MIN(day) AS mnd, MAX(day) AS mxd FROM sparse GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(mnd, mxd, INTERVAL 1 DAY)) AS DATE) AS day
      FROM ext
    ),
    j AS (
      SELECT s.event_type, s.day, sp.v FROM spine s
      LEFT JOIN sparse sp ON sp.event_type = s.event_type AND sp.day = s.day
    ),
    w AS (
      SELECT event_type, day, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS pd,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT event_type, day, v,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + (nv - pv) * CAST(datediff('day', pd, day) AS DOUBLE)
                               / CAST(datediff('day', pd, nd) AS DOUBLE)
           END AS filled,
           CAST(v IS NULL AS BOOLEAN) AS is_interpolated
    FROM w
    """,
)
def q129_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair by linear interpolation: the daily
    per-type value series (made sparse by dropping every
    day-of-month % 3 == 0 — a deterministic stand-in for missing feed
    days, the reference's gap-repair concern, cbbd_etl backfill) is
    re-spined to a dense per-type calendar, and each hole is filled as
    prev + (next−prev)·k/g from its bracketing observations via
    IGNORE-NULLS running windows — one forward, one backward, both over
    the PRE-AGGREGATED daily series (days × types rows, driver-scale),
    never the raw stream. Leading/trailing holes (no bracket) stay
    null. Exact cross-engine: daily sums run in DECIMAL, and the
    interpolation is the identical ((next−prev)·k)/g float expression
    on both sides."""
    ev = load(spark, sf_dir, "events")
    sparse = (
        ev.select("event_type", F.to_date("ts").alias("day"), "value")
        .filter(F.dayofmonth("day") % 3 != 0)
        .groupBy("event_type", "day")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    )
    spine = (
        sparse.groupBy("event_type")
        .agg(F.min("day").alias("mnd"), F.max("day").alias("mxd"))
        .select(
            "event_type",
            F.explode(F.sequence("mnd", "mxd")).alias("day"),
        )
    )
    j = spine.join(sparse, ["event_type", "day"], "left")
    day_if_v = F.when(F.col("v").isNotNull(), F.col("day"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = j.select(
        "event_type",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(day_if_v, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(day_if_v, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("day"), F.col("pd")
    ).cast("double") / F.datediff(F.col("nd"), F.col("pd")).cast("double")
    return w.select(
        "event_type",
        "day",
        "v",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("filled"),
        F.col("v").isNull().alias("is_interpolated"),
    )


@query(
    "q130_ewma_window",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_id, user_id,
             list(cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM c
    )
    SELECT event_id, user_id,
           CAST(len(l) AS BIGINT) AS n_window,
           (list_sum(list_transform(
              l, (x, i) -> CAST(x AS DOUBLE) * pow(0.5, CAST(len(l) - i AS DOUBLE))))
            / (2 - pow(0.5, CAST(len(l) - 1 AS DOUBLE)))) / 100.0 AS ewma
    FROM w
    """,
)
def q130_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α=½) over each
    user's last 16 events — the recursive smoother no built-in window
    aggregate expresses, recovered EXACTLY by bounding the window:
    2⁻¹⁶ is below the weight floor anyway, so the 16-row frame equals
    the infinite recursion to within one ulp — and here bit-exactly
    across engines, because values quantize to integer cents, the
    weights are powers of two, so every product is an exact dyadic
    rational and the sum is order-independent (the property float
    EWMA lacks; same trick as q61/q94). Plan: one window partitioned
    by user_id (the high-cardinality entity — NOT event_type, which
    would put 20% of the stream in one partition), collect_list over
    the 16-row frame, and a JVM higher-order fold; no self-join, no
    Python. Normalizer 2−2^−(n−1) handles the ramp-up rows."""
    ev = load(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-15, 0)
    return (
        c.withColumn("l", F.collect_list("cents").over(w))
        .select(
            "event_id",
            "user_id",
            F.size("l").cast("bigint").alias("n_window"),
            (
                F.expr(
                    "aggregate(zip_with(l, sequence(size(l) - 1, 0, -1),"
                    " (x, d) -> CAST(x AS DOUBLE) * pow(0.5D, CAST(d AS DOUBLE))),"
                    " 0.0D, (a, b) -> a + b)"
                )
                / (F.lit(2.0) - F.expr("pow(0.5D, CAST(size(l) - 1 AS DOUBLE))"))
                / F.lit(100.0)
            ).alias("ewma"),
        )
    )


SESSION_GAP_MIN = 240  # minutes of inactivity that closes a session


@query(
    "q139_session_conversion",
    oracle=f"""
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts)
                       > {SESSION_GAP_MIN * 60}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, event_type, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    ),
    per_session AS (
      SELECT user_id, session_id,
             COUNT(*) AS n_events,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions_with_view,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                          AND last_purchase > first_view THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted_sessions
    FROM per_session GROUP BY user_id
    """,
)
def q139_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion funnel: gap-sessionize each user's
    stream ({gap}-minute inactivity closes a session — the lag+cumsum
    pattern of q37, which counts sessions but never looks INSIDE them),
    then per session test the ordered micro-funnel "a view happened and
    a purchase followed it" via conditional MIN/MAX — no second window
    pass, no self-join: within one session, last_purchase > first_view
    ⟺ some purchase follows some view. Windows partition by user_id
    (high-cardinality), each frame is one user's stream — the q130
    parallelism note applies; the per-session and per-user rollups are
    ordinary map-side-combining groupBys. Complements q89 (global
    funnel, no session boundary) and q124 (attribution). Reference:
    the possession-scoped scoring-run logic of
    build_pbp_plays_enriched.py:181-276, re-aimed at web sessions.""".format(
        gap=SESSION_GAP_MIN
    )
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wo)
    o = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.when(gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    s = o.withColumn(
        "session_id",
        F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
        F.sum(F.when(F.col("first_view").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sessions_with_view"),
        F.sum(
            F.when(
                F.col("first_view").isNotNull()
                & (F.col("last_purchase") > F.col("first_view")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_converted_sessions"),
    )


@query(
    "q142_cogroup_reconcile",
    oracle="""
    WITH od AS (
      SELECT o_custkey % 150 AS entity, CAST(o_orderdate AS DATE) AS day,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2
    ),
    ed AS (
      SELECT user_id AS entity, CAST(ts AS DATE) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT COALESCE(od.entity, ed.entity) AS entity,
             od.day AS oday, ed.day AS eday
      FROM od FULL OUTER JOIN ed ON ed.entity = od.entity AND ed.day = od.day
    )
    SELECT entity,
           CAST(SUM(CASE WHEN oday IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_order_days,
           CAST(SUM(CASE WHEN eday IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_event_days,
           CAST(SUM(CASE WHEN oday IS NOT NULL AND eday IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_common_days
    FROM j GROUP BY entity
    """,
)
def q142_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source activity reconciliation through Spark's COGROUP
    surface — ``groupby(...).cogroup(...).applyInPandas`` hands each
    entity BOTH sides' rows in one kernel call, the API for per-key
    logic that needs the two frames side by side without materializing
    their join product (here: day-level presence reconciliation between
    the orders feed and the events feed — the reference's
    bronze-vs-silver completeness audit, gap_fill.py:79-171, done
    entity-wise). The kernel sees the two per-entity day sets and emits
    membership tallies; the oracle proves the cogroup path equals the
    relational FULL OUTER JOIN statement of the same question. Scale:
    cogroup shuffles each side once on the entity key (same Exchange
    shape as the join) but streams the pair of Arrow batches straight
    into the kernel — per-group state is the two day-lists, and the
    pre-aggregation to (entity, day) keeps those bounded. The q115
    hot-key lesson applies unchanged if an entity dominates."""
    import pandas as pd

    o = load(spark, sf_dir, "orders")
    ev = load(spark, sf_dir, "events")
    od = (
        o.select(
            (F.col("o_custkey") % 150).cast("long").alias("entity"),
            F.to_date("o_orderdate").alias("day"),
        )
        .groupBy("entity", "day")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ed = (
        ev.select(
            F.col("user_id").cast("long").alias("entity"),
            F.to_date("ts").alias("day"),
        )
        .groupBy("entity", "day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )

    def reconcile(key, left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        odays = set(left["day"]) if len(left) else set()
        edays = set(right["day"]) if len(right) else set()
        return pd.DataFrame(
            {
                "entity": [key[0]],
                "n_order_days": [len(odays)],
                "n_event_days": [len(edays)],
                "n_common_days": [len(odays & edays)],
            }
        )

    return (
        od.groupby("entity")
        .cogroup(ed.groupby("entity"))
        .applyInPandas(
            reconcile,
            "entity long, n_order_days long, n_event_days long, n_common_days long",
        )
    )


INTERVAL_LEN_S = 1800  # each event opens a 30-minute activity interval


@query(
    "q147_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_LEN_S} AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prev_e
      FROM iv
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max_prev_e IS NULL OR s > max_prev_e THEN 1 ELSE 0 END
               AS is_new
      FROM m
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    agg AS (
      SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_seconds,
           CAST(MAX(i_end - i_start) AS BIGINT) AS longest_island_seconds
    FROM agg GROUP BY user_id
    """,
)
def q147_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval union per user (gaps-and-islands): every
    event opens a {m}-minute activity interval; intervals chain into
    islands wherever one starts before the running MAX of previous
    ends (the strict form that q37's fixed-gap sessionizer
    approximates — gap sessionization only compares ADJACENT events,
    so a long interval swallowing a later short one splits there but
    merges here). One window pass computes the running max-end (frame
    ending at 1 PRECEDING — no self-join), a cumsum numbers islands,
    and two groupBys emit union length / island count / longest
    stretch, all in integer epoch seconds. Partitioned by user_id —
    the q130 parallelism note; the reference's possession-clock
    overlap handling (build_pbp_plays_enriched.py:181-276) is this
    pattern with basketball constants.""".format(m=INTERVAL_LEN_S // 60)
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + INTERVAL_LEN_S).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "max_prev_e",
        F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
    )
    flagged = m.withColumn(
        "is_new",
        F.when(
            F.col("max_prev_e").isNull() | (F.col("s") > F.col("max_prev_e")), 1
        ).otherwise(0),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    agg = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return agg.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_seconds"),
        F.max(F.col("i_end") - F.col("i_start"))
        .cast("bigint")
        .alias("longest_island_seconds"),
    )


BOT_EVENTS_PER_DAY = 30


@query(
    "q150_events_endpoint",
    oracle=f"""
    WITH dedup AS (
      SELECT event_id, user_id, event_type, ts, value
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                     ORDER BY ts, user_id) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    bots AS (
      SELECT user_id FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM dedup GROUP BY 1, 2
      ) WHERE n > {BOT_EVENTS_PER_DAY}
      GROUP BY user_id
    ),
    clean AS (
      SELECT * FROM dedup WHERE user_id NOT IN (SELECT user_id FROM bots)
    )
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM clean GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def q150_events_endpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical events-warehouse ENDPOINT (the q70 recipe on the
    events side): idempotent exact dedup on event_id (first-wins with a
    deterministic tiebreak — replayed feeds double-deliver, SURVEY
    §2.10 I3), bot exclusion (any user exceeding {n} events on any one
    day — anti-join of a groupBy-derived denylist, never a per-row
    Python rule), then the daily per-type rollup with distinct actors
    and DECIMAL-exact value totals. Shuffle ledger at 100 TB: dedup
    partitions by event_id; the bot screen and final rollup both key on
    user_id-then-(type, day) with map-side combine everywhere; the
    denylist is users-scale and broadcasts into the anti-join. One
    pipeline definition, hash-checked end-to-end — the property the
    reference's bronze→silver→gold scripts assert piecemeal
    (bronze_silver_validation_queries.sql) falls out of a single
    declarative plan.""".format(n=BOT_EVENTS_PER_DAY)
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_id").orderBy("ts", "user_id")
    dedup = (
        ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    bots = (
        dedup.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > BOT_EVENTS_PER_DAY)
        .select("user_id")
        .distinct()
    )
    clean = dedup.join(F.broadcast(bots), "user_id", "anti")
    return clean.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@query(
    "q155_audience_overlap",
    oracle="""
    WITH seg AS (SELECT DISTINCT event_type AS segment, user_id FROM events),
    pairs AS (
      SELECT a.segment AS seg_a, b.segment AS seg_b,
             a.user_id AS ua, b.user_id AS ub
      FROM seg a JOIN seg b ON a.segment < b.segment AND a.user_id = b.user_id
    ),
    inter AS (
      SELECT seg_a, seg_b, CAST(COUNT(*) AS BIGINT) AS n_both
      FROM pairs GROUP BY seg_a, seg_b
    ),
    sizes AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n FROM seg GROUP BY segment)
    SELECT i.seg_a, i.seg_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           CAST(i.n_both AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_both AS DOUBLE) AS jaccard,
           CAST(i.n_both AS DOUBLE)
             / CAST(CASE WHEN sa.n < sb.n THEN sa.n ELSE sb.n END AS DOUBLE)
             AS containment
    FROM inter i
    JOIN sizes sa ON sa.segment = i.seg_a
    JOIN sizes sb ON sb.segment = i.seg_b
    """,
)
def q155_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix between behavioral segments — |A∩B|,
    Jaccard, and containment for every segment pair, the ad-tech /
    cohort-design readout that roaring-bitmap engines specialize in.
    Plan: dedup to (segment, user) once, self-join ON user_id (the
    intersection IS the join — one shuffle both sides share), then
    broadcast segment sizes onto the pair counts. No bitmap state ever
    materializes per executor — at 100 TB the per-segment "bitmap" is
    the deduped key stream itself, and the KMV sketch variant (q126)
    replaces the exact self-join when ±3% suffices. Containment
    (overlap ÷ smaller audience) is the asymmetric-size-robust measure
    Jaccard underreports."""
    ev = load(spark, sf_dir, "events")
    seg = ev.select(F.col("event_type").alias("segment"), "user_id").distinct()
    a = seg.select(F.col("segment").alias("seg_a"), "user_id")
    b = seg.select(F.col("segment").alias("seg_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sizes = seg.groupBy("segment").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sa = sizes.select(F.col("segment").alias("seg_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("segment").alias("seg_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a", "seg_b", "n_a", "n_b", "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
            (
                F.col("n_both").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
    )


@query(
    "q157_time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    w AS (
      SELECT user_id, cents,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur
      FROM s
    )
    SELECT user_id,
           CAST(SUM(dur) AS BIGINT) AS observed_seconds,
           CAST(SUM(cents * dur) AS DOUBLE)
             / CAST(SUM(dur) AS DOUBLE) / 100.0 AS twap
    FROM w WHERE dur IS NOT NULL
    GROUP BY user_id
    """,
)
def q157_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average value per user (TWAP — the step-function
    integral ÷ observed span): each reading holds until the next one,
    so its weight is that duration in whole seconds (lead() over the
    per-user stream; the final open-ended reading is excluded, the
    standard convention). Why it exists next to plain avg: a sensor
    that reports rarely at level 100 and floods at level 1 has
    arithmetic mean ≈1 but TWAP ≈100 — sampling-rate bias is the
    thing this corrects. Arithmetic is EXACT until the last two ops:
    cents×seconds products and their sums stay in int64 (duration ≤
    2.6M s, cents ≤ 50k ⇒ per-row ≤ 1.3e11; int64 holds 7e7 such rows
    per user — document the DECIMAL escape beyond), then one division
    pair. One window + one groupBy, both keyed on user_id."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_id",
    )
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    w = s.select(
        "user_id",
        "cents",
        (F.lead("t").over(wo) - F.col("t")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return w.groupBy("user_id").agg(
        F.sum("dur").cast("bigint").alias("observed_seconds"),
        (
            F.sum(F.col("cents") * F.col("dur")).cast("double")
            / F.sum("dur").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
    )


@query(
    "q159_seasonal_anomalies",
    oracle="""
    WITH s AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hod,
             CAST(ts AS DATE) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    slot AS (
      SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n FROM s
      GROUP BY event_type, hod
    ),
    r AS (
      SELECT event_type, hod, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type, hod ORDER BY cents) AS rn
      FROM s
    ),
    med AS (
      SELECT slot.event_type, slot.hod, r.cents AS baseline_cents
      FROM slot JOIN r ON r.event_type = slot.event_type AND r.hod = slot.hod
        AND r.rn = CAST(ceil(0.5 * CAST(slot.n AS DOUBLE)) AS BIGINT)
    )
    SELECT s.event_type, CAST(s.hod AS BIGINT) AS hod, s.day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(med.baseline_cents) AS DOUBLE) / 100.0 AS baseline,
           CAST(SUM(CASE WHEN s.cents > 2 * med.baseline_cents
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM s JOIN med ON med.event_type = s.event_type AND med.hod = s.hod
    GROUP BY s.event_type, s.hod, s.day
    """,
)
def q159_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screening: each reading is judged
    against the exact MEDIAN of its own (type, hour-of-day) slot — the
    baseline that absorbs daily rhythm, where q27's global z-score
    flags every rush hour as anomalous. Slot medians come from the
    shared _grouped_kth histogram-select core (two-column group key —
    the machinery is key-arity agnostic); readings above 2× their slot
    baseline count as anomalies per (type, hour, day). Hour-of-day is
    pure integer epoch arithmetic (engine-proof, the q158 rule).
    Composition count for _grouped_kth is now five oracle-checked
    consumers (q107, q127, q140, q153, this) — one exact-quantile
    plan, amortized."""
    from hoops_edge_database_etl_spark.queries.sketches import _grouped_kth

    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        (
            (F.floor(F.col("ts").cast("double")).cast("long") % 86400) / 3600
        ).cast("long").alias("hod"),
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).withColumn("slot", F.concat_ws("#", "event_type", "hod"))
    med = _grouped_kth(
        s.select("slot", F.col("cents").cast("double").alias("v")),
        "slot",
        "v",
        0.5,
        100.0,
    ).select("slot", F.col("kth").cast("long").alias("baseline_cents"))
    return (
        s.join(F.broadcast(med), "slot")
        .groupBy("event_type", "hod", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.max("baseline_cents").cast("double") / 100.0).alias("baseline"),
            F.sum(
                F.when(F.col("cents") > 2 * F.col("baseline_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
        .select(
            "event_type", F.col("hod").cast("bigint").alias("hod"), "day",
            "n_events", "baseline", "n_anomalies",
        )
    )


@query(
    "q160_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    o AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    r AS (SELECT src, CAST(SUM(n) AS BIGINT) AS rn FROM o GROUP BY src)
    SELECT o.src, o.dst, o.n,
           CAST(o.n AS DOUBLE) / CAST(r.rn AS BIGINT) AS p,
           CAST(ROW_NUMBER() OVER (PARTITION BY o.src
                                   ORDER BY o.n DESC, o.dst) AS BIGINT) AS rank
    FROM o JOIN r USING (src)
    """,
)
def q160_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — the behavioral-model / next-action primitive (and the
    sequence-mining counterpart of q122's unordered co-occurrence):
    one lead() per user stream pairs consecutive events, one groupBy
    counts (src, dst), row totals normalize to transition
    probabilities (single division — deterministic), and transitions
    rank within each source via the associative two-phase top-k shape
    (5×5 here, a billion-state matrix at scale — which is why the
    rank runs through a per-group window on the AGGREGATED matrix,
    never the raw stream)."""
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(wo).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    o = s.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = o.groupBy("src").agg(F.sum("n").cast("bigint").alias("rn"))
    wr = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    return (
        o.join(F.broadcast(r), "src")
        .select(
            "src", "dst", "n",
            (F.col("n").cast("double") / F.col("rn")).alias("p"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# RFM segmentation (q166): the classic recency/frequency/monetary customer
# grid (reference analogue: the tiering the reference's rating buckets apply
# to teams, here applied to the event stream's purchasers).
# ---------------------------------------------------------------------------


@query(
    "q166_rfm_segments",
    oracle="""
    WITH p AS (
      SELECT user_id,
             CAST(date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-02-01')
                  AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    s AS (
      SELECT user_id, cents,
             NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_q,
             NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
             NTILE(5) OVER (ORDER BY cents DESC, user_id) AS m_q
      FROM p
    )
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM s GROUP BY r_q, f_q, m_q
    """,
)
def q166_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile grid over purchase events: per-user (recency,
    frequency, monetary) reduced map-side to one row per user, then three
    NTILE(5) ranks with deterministic (metric, user_id) tiebreaks — both
    engines implement NTILE's ceil-first bucket fill identically, so the
    segment assignment is exact. Output is the BOUNDED ≤125-cell segment
    grid, not the per-user table.

    Scale (r10, global-window audit): the three quintile cuts run as
    operators.rowids.distributed_ntile — range partition + per-range
    numbering + a broadcast prefix-offset spine — so NO single-partition
    window over the user table remains (they were user-proportional,
    the audit's entity-rank class). The per-user reduction itself is one
    map-side-combining shuffle of the purchase slice."""
    from hoops_edge_database_etl_spark.operators.rowids import distributed_ntile

    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(F.lit("2024-02-01").cast("date"), F.max(F.to_date("ts")))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    # Each distributed_ntile pass reads its input TWICE (a count branch
    # and the range-partitioned id branch), so three chained passes
    # would re-execute the per-user aggregate — and everything upstream
    # of it — ~2x per stage. localCheckpoint (lazy, the q408 pattern)
    # materializes the |users|-row rollup once; all six branch reads
    # reuse it (r10 ADVICE).
    p = p.localCheckpoint(eager=False)
    s = distributed_ntile(p, 5, ["recency_days", "user_id"], tile_col="r_q")
    s = distributed_ntile(s, 5, [F.col("freq").desc(), "user_id"], tile_col="f_q")
    s = distributed_ntile(s, 5, [F.col("cents").desc(), "user_id"], tile_col="m_q")
    s = s.select("cents", "r_q", "f_q", "m_q")
    return s.groupBy(
        F.col("r_q").cast("bigint").alias("r_q"),
        F.col("f_q").cast("bigint").alias("f_q"),
        F.col("m_q").cast("bigint").alias("m_q"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (q167): where did the daily level of each
# event stream shift? Exact integer cumulative-deviation scan.
# ---------------------------------------------------------------------------


@query(
    "q167_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS total
      FROM d GROUP BY 1
    ),
    cs AS (
      SELECT d.event_type, d.day, t.n_days,
             SUM(t.n_days * d.c - t.total)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS cusum
      FROM d JOIN t ON t.event_type = d.event_type
    )
    SELECT event_type, day AS change_day, n_days,
           CAST(abs(cusum) AS BIGINT) AS max_abs_cusum
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY abs(cusum) DESC, day) AS rn
      FROM cs
    ) WHERE rn = 1
    """,
)
def q167_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream CUSUM change-point: scale each day's count deviation by
    n_days (dev = n·c − Σc, an INTEGER — no float mean anywhere), walk the
    cumulative sum in day order, and report the day where |CUSUM| peaks
    (tiebreak: earliest). The peak of the scaled walk is the
    maximum-likelihood single change-point for a level shift — the
    monitoring primitive behind data-volume regression alerts.

    Scale shape: the heavy input reduces map-side to one row per
    (stream, day) BEFORE any window; the cumulative walk then runs over
    the bounded per-stream daily series (≤ 365·years rows per stream —
    the q128/q159 contract). Totals join back via broadcast (one row per
    stream). No global sort, no per-event window."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("total"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = (
        d.join(F.broadcast(t), "event_type")
        .withColumn("cusum", F.sum(F.col("n_days") * F.col("c") - F.col("total")).over(wc))
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "day")
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            "n_days",
            F.abs("cusum").cast("bigint").alias("max_abs_cusum"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel latency quantiles (q179): not just WHETHER users convert (q89)
# but HOW LONG it takes — the exact median view→purchase latency per
# weekly cohort, through the shared histogram-select core (no global sort).
# ---------------------------------------------------------------------------


@query(
    "q179_funnel_latency_median",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > fv.v_ts
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT CAST(date_trunc('week', fv.v_ts) AS DATE) AS cohort_week,
             epoch_us(fp.p_ts) - epoch_us(fv.v_ts) AS latency_us
      FROM fv JOIN fp ON fp.user_id = fv.user_id
    ),
    r AS (
      SELECT cohort_week, latency_us,
             ROW_NUMBER() OVER (PARTITION BY cohort_week ORDER BY latency_us) AS rn,
             COUNT(*) OVER (PARTITION BY cohort_week) AS n
      FROM lat
    )
    SELECT cohort_week, CAST(n AS BIGINT) AS n_converted,
           latency_us AS median_latency_us
    FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
    """,
)
def q179_funnel_latency_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median view→purchase latency per weekly first-view cohort:
    each user reduces to (first view, first purchase AFTER it) — two
    map-side-combining aggregations and one broadcast-backed semi
    condition, the q89 funnel's ordered-step rule — then the per-cohort
    median routes through the shared ``_grouped_kth`` histogram-select
    core (q127/q140/q162's plan): histogram the latencies per cohort,
    locate the half-count bin, rank only that bin. The oracle's full
    per-cohort sort is exactly what this avoids; microsecond-integer
    latencies keep every comparison exact.

    The product readout: a cohort whose median latency stretches is a
    conversion-path regression even when the q89 conversion RATE is
    flat."""
    from hoops_edge_database_etl_spark.queries.sketches import _grouped_kth

    ev = load(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = fv.join(fp, "user_id").select(
        F.date_trunc("week", "v_ts").cast("date").alias("cohort_week"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("latency_us"),
    )
    kth = _grouped_kth(lat, "cohort_week", "latency_us", 0.5, 3600e6)
    return kth.select(
        "cohort_week",
        F.col("n").alias("n_converted"),
        F.col("kth").cast("bigint").alias("median_latency_us"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (q182): top event-type trigram paths. Markov
# (q160) answers one-step structure; this surfaces the dominant 3-step
# JOURNEYS — the sequence-mining readout product teams actually read.
# ---------------------------------------------------------------------------


@query(
    "q182_path_trigrams",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt2
      FROM events
    ),
    tri AS (
      SELECT event_type || '>' || nxt || '>' || nxt2 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM o WHERE nxt IS NOT NULL AND nxt2 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n, CAST(rn AS BIGINT) AS rank
    FROM (SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rn FROM tri)
    WHERE rn <= 10
    """,
)
def q182_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys: two LEADs over each user's
    (ts, event_id)-ordered stream build the trigram in ONE window pass
    (no self-joins — the naive 3-way sequence join is quadratic on active
    users), counts reduce with map-side combine over the bounded
    |event_types|³ path space, and the top-10 is a TakeOrdered with a
    (count DESC, path) total tiebreak.

    Per-user streams are the partition key — at 100 TB the window state
    is one user's events (bounded by retention), and the path-count
    table is ≤ |types|³ rows no matter the event volume. Extending to
    k-grams is k−1 LEADs in the same pass."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    )
    tri = (
        o.filter(F.col("nxt").isNotNull() & F.col("nxt2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "nxt", "nxt2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), "path")
    return (
        tri.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


# ---------------------------------------------------------------------------
# Bounce-rate report (q188): per-day session quality — the product KPI
# layered on the q37 gap sessionizer.
# ---------------------------------------------------------------------------


@query(
    "q188_bounce_rate",
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
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    ),
    s AS (
      SELECT user_id, session_no,
             CAST(MIN(ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
      FROM sessions GROUP BY user_id, session_no
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS bounce_rate,
           CAST(SUM(dur_us) AS BIGINT) AS total_session_us
    FROM s GROUP BY day
    """,
)
def q188_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: sessionize with the 30-minute gap rule (q37's
    cumulative-flag formulation — identical session boundaries to Spark's
    native session_window), attribute each session to its START day, and
    report the share of single-event sessions plus total engaged time —
    exact integers everywhere, one division for the rate.

    The per-user window runs over each user's own stream (bounded by
    retention); the daily rollup is map-side-combined. The KPI stack on
    one sessionizer: q37 materializes sessions, q139 scopes funnels to
    them, q156 runs the same boundaries under Structured Streaming, THIS
    reads the quality metric off them."""
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo)) >= 1_800_000_000)
            | F.lag("ts").over(wo).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.select(
        "user_id", "ts", F.sum("new_session").over(wc).alias("session_no")
    )
    s = sessions.groupBy("user_id", "session_no").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return s.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        F.sum("dur_us").cast("bigint").alias("total_session_us"),
    )


# ---------------------------------------------------------------------------
# Cumulative adoption curve (q202): distinct users EVER seen, by day — the
# growth-accounting metric COUNT(DISTINCT) OVER (ORDER BY day) cannot
# express scalably (distinct state explodes); first-occurrence reduction
# makes it a plain cumsum.
# ---------------------------------------------------------------------------


@query(
    "q202_cumulative_adoption",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id, event_type
    ),
    daily AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY event_type, day
    )
    SELECT event_type, day, n_new,
           CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def q202_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature adoption curves: each (user, event type) reduces to a
    first-use day (map-side MIN — the only pass over the event volume), daily
    new-user counts reduce again, and the cumulative total is a window
    over the BOUNDED daily series. The naive windowed COUNT(DISTINCT
    user) OVER (ORDER BY day) carries an ever-growing distinct set as
    window state and is unsupported/unscalable in both engines — the
    first-occurrence transform IS the standard trick that turns "distinct
    ever" into an additive metric (same move as q90's cohort entry and
    q128's dedup-then-fan-out).

    Retention-adjusted variants (distinct ACTIVE in trailing 30d) are
    q128's sliding-distinct shape; this is the monotone ever-seen curve
    investors read."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_seen.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type", "day", "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Linear (multi-touch) attribution (q205): q124 gives first/last touch all
# the credit; LINEAR splits each conversion's credit equally across its
# preceding touches — in deterministic fixed point, never 1/k floats.
# ---------------------------------------------------------------------------


@query(
    "q205_linear_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_p
      FROM events
    ),
    touches AS (
      SELECT user_id, event_type, COALESCE(prior_p, 0) + 1 AS conv_no
      FROM ev WHERE event_type IN ('view', 'click')
    ),
    convs AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS conv_no
      FROM ev WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT t.user_id, t.event_type, t.conv_no,
             CAST(COUNT(*) OVER (PARTITION BY t.user_id, t.conv_no) AS BIGINT) AS k
      FROM touches t JOIN convs c
        ON c.user_id = t.user_id AND c.conv_no = t.conv_no
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT (user_id, conv_no)) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(floor(10000.0 / k) AS BIGINT)) AS BIGINT) AS credit_bp
    FROM attributed GROUP BY event_type
    """,
)
def q205_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each touch (view/click) belongs to
    the NEXT purchase in its user's stream (membership = running count of
    prior purchases — one window, the q89 ordered-step rule), converted
    touches split their conversion's credit equally, and the 1/k share is
    the FIXED-POINT integer ⌊10000/k⌋ basis points (float 1/k sums would
    be partition-order-dependent; the q170/q132 rule). Touches after a
    user's final purchase attribute to nothing and drop via the
    conversion join — exactly the unconverted-journey semantics.

    Channel credit in one pass over each user's bounded stream + a 1:1
    join on (user, conversion ordinal); compare q124's first/last-touch
    winners to read how concentration changes under the model."""
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = wo.rowsBetween(Window.unboundedPreceding, -1)
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(wp)
        .alias("prior_p"),
    ).withColumn("prior_p", F.coalesce("prior_p", F.lit(0)))
    touches = base.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", (F.col("prior_p") + 1).alias("conv_no")
    )
    convs = (
        base.filter(F.col("event_type") == "purchase")
        .select("user_id", F.row_number().over(wo).alias("conv_no"))
    )
    wk = Window.partitionBy("user_id", "conv_no")
    attributed = touches.join(convs, ["user_id", "conv_no"]).select(
        "user_id",
        "event_type",
        "conv_no",
        F.count(F.lit(1)).over(wk).cast("bigint").alias("k"),
    )
    return attributed.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("user_id", "conv_no").cast("bigint").alias("n_conversions"),
        F.sum(F.floor(F.lit(10000.0) / F.col("k")).cast("long"))
        .cast("bigint")
        .alias("credit_bp"),
    )


# ---------------------------------------------------------------------------
# Rate-limit violation scan (q211): "any rolling hour with more than N
# events" — abuse/bot detection as a RANGE-frame window, the time-based
# frame ROWS windows cannot express.
# ---------------------------------------------------------------------------

RATE_N = 2  # events per trailing hour (the synthetic stream is sparse)


@query(
    "q211_rate_limit_violations",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
      FROM events
    ),
    r AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                            RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS cnt
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN cnt > {RATE_N} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(cnt) AS BIGINT) AS max_hourly_rate
    FROM r GROUP BY user_id
    HAVING MAX(cnt) > {RATE_N}
    """,
)
def q211_rate_limit_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rate limiting: for every event, the count of the
    same user's events in the trailing 3600 seconds — a RANGE frame over
    epoch seconds (value-based, so sparse activity costs nothing; a ROWS
    frame cannot state "one hour"), then the per-user violation report
    for users whose peak trailing-hour rate ever exceeded RATE_N. Exact
    integer seconds and counts.

    The window state is one user's in-frame events (bounded by the rate
    itself — a user emitting more holds more, which is exactly the
    signal); the production streaming twin keeps the same trailing
    counts with ``applyInPandasWithState`` eviction. This is the
    detection query behind throttling ledgers and bot flags."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id", (F.unix_micros("ts") / 1_000_000).cast("long").alias("sec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    r = e.select("user_id", F.count(F.lit(1)).over(w).alias("cnt"))
    return (
        r.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("cnt") > RATE_N, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("cnt").cast("bigint").alias("max_hourly_rate"),
        )
        .filter(F.col("max_hourly_rate") > RATE_N)
    )


# ---------------------------------------------------------------------------
# Funnel with conversion window (q212): q89 counts ordered completion
# EVER; real funnels only credit conversions inside a timeout.
# ---------------------------------------------------------------------------

FUNNEL_TIMEOUT_US = 24 * 3600 * 1_000_000


@query(
    "q212_funnel_timeout",
    oracle=f"""
    WITH fv AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > fv.v_us
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entered,
           CAST(SUM(CASE WHEN fp.p_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted_ever,
           CAST(SUM(CASE WHEN fp.p_us - fv.v_us <= {FUNNEL_TIMEOUT_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_24h,
           CAST(SUM(CASE WHEN fp.p_us - fv.v_us <= {FUNNEL_TIMEOUT_US}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS cvr_24h
    FROM fv LEFT JOIN fp ON fp.user_id = fv.user_id
    """,
)
def q212_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion UNDER A TIMEOUT: first view → first subsequent
    purchase, credited only within 24 hours — the windowed-conversion
    semantics every funnel product defaults to (q89 answers "ever",
    which inflates; q179 reads the latency distribution; THIS reads the
    rate at a cutoff). Exact microsecond integers; NULL-safe: never-
    converting users stay in the denominator via the left join.

    Same two map-side reductions as q179; changing the cutoff is a
    constant, and a multi-cutoff report (1h/24h/7d) is one CASE arm
    each — one scan regardless (the q208 probe rule)."""
    ev = load(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("v_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.unix_micros("ts") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("p_us"))
    )
    j = fv.join(fp, "user_id", "left")
    in_window = F.when(
        (F.col("p_us") - F.col("v_us")) <= FUNNEL_TIMEOUT_US, 1
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entered"),
        F.sum(F.when(F.col("p_us").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted_ever"),
        F.sum(in_window).cast("bigint").alias("n_converted_24h"),
        (F.sum(in_window).cast("double") / F.count(F.lit(1))).alias("cvr_24h"),
    )


@query(
    "q237_event_pattern_match",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 've{2,}p')) AS BIGINT) AS n_matches
    FROM coded
    """,
)
def q237_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style complex-event detection: per user, find
    non-overlapping occurrences of the pattern view → error{2,} →
    purchase in event-time order. Each event type maps to a single
    character (all five types have distinct initials), the per-user
    ordered sequence folds into one string (array_sort over packed
    (ts, event_id, code) structs — the q112 ordered-concat machinery,
    with the event_id tiebreak making the order total), and the
    pattern is a plain greedy regex both engines execute identically
    on ASCII. Per-user state is retention-bounded; the streaming
    escape for unbounded sequences is applyInPandasWithState (the
    q156 session machinery) with this same code-string as state."""
    ev = load(spark, sf_dir, "events")
    coded = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                        )
                    )
                ),
                lambda s: s.c,
            ),
            "",
        ).alias("seq")
    )
    return coded.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.length("seq").cast("bigint").alias("n_events"),
        F.size(F.regexp_extract_all("seq", F.lit("ve{2,}p"), 0))
        .cast("bigint")
        .alias("n_matches"),
    )


@query(
    "q238_exact_auc",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    ),
    per_v AS (
      SELECT v_cents,
             CAST(SUM(pos) AS BIGINT) AS np_v,
             CAST(SUM(1 - pos) AS BIGINT) AS nn_v
      FROM scored GROUP BY v_cents
    ),
    cum AS (
      SELECT v_cents, np_v, nn_v,
             CAST(COALESCE(SUM(nn_v) OVER (
               ORDER BY v_cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS nn_below
      FROM per_v
    )
    -- u2 <= 2*n_pos*n_neg ~ n^2/2: the q402 overflow class (per-row
    -- fits int64, the corpus-level sum doesn't at ~6e9 events) - the
    -- accumulator is DECIMAL(38,0) in both engines; the OUTPUT casts
    -- to BIGINT (driver hasher rejects DECIMAL outputs, r10)
    SELECT CAST(SUM(np_v) AS BIGINT) AS n_pos,
           CAST(SUM(nn_v) AS BIGINT) AS n_neg,
           CAST(SUM(CAST(np_v AS DECIMAL(38,0)) * (2 * nn_below + nn_v))
                AS BIGINT) AS u2,
           CAST(SUM(np_v * (2 * nn_below + nn_v)) AS DOUBLE)
             / (2.0 * CAST(SUM(np_v) AS DOUBLE) * CAST(SUM(nn_v) AS DOUBLE)) AS auc
    FROM cum
    """,
)
def q238_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (Mann–Whitney U) in one aggregation pass — does the
    event's value separate purchases from the rest? The trick that makes
    it scale: scores quantize to cents (their native precision), so the
    ranking state is the PER-VALUE count table (score-domain-bounded,
    ≤49k rows whatever the event count), and tie handling is exact
    integer midrank arithmetic — U2 = Σ_v np_v·(2·nn_below + nn_v)
    counts each cross pair twice and each tie pair once, no 0.5 floats
    until the single final division. The cumulative window runs over
    the tiny per-value table (the documented empty-partition-frame
    exception, q163's rule), never over raw events. The naive
    global-rank formulation is a full-data sort — this is the plan that
    replaces it at 100 TB."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    per_v = scored.groupBy("v_cents").agg(
        F.sum("pos").cast("bigint").alias("np_v"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("nn_v"),
    )
    w = (
        Window.orderBy("v_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_v.withColumn(
        "nn_below", F.coalesce(F.sum("nn_v").over(w), F.lit(0)).cast("bigint")
    )
    u2 = F.sum(F.col("np_v") * (2 * F.col("nn_below") + F.col("nn_v")))
    # u2 <= 2*n_pos*n_neg ~ n^2/2 — the q402 overflow class (per-value
    # terms fit int64, the corpus-level sum doesn't at ~6e9 events):
    # accumulate in DECIMAL(38,0); OUTPUT as BIGINT (the driver hasher
    # serializes DECIMAL differently across engines — r10 red class;
    # u2 fits int64 below ~4.3e9 events, ANSI throws past that)
    u2_dec = F.sum(
        F.col("np_v").cast("decimal(38,0)")
        * (2 * F.col("nn_below") + F.col("nn_v"))
    )
    return cum.agg(
        F.sum("np_v").cast("bigint").alias("n_pos"),
        F.sum("nn_v").cast("bigint").alias("n_neg"),
        u2_dec.cast("bigint").alias("u2"),
        (
            u2_dec.cast("double")
            / (2.0 * F.sum("np_v").cast("double") * F.sum("nn_v").cast("double"))
        ).alias("auc"),
    )


_NDCG_DISC = {  # floor(1e6 / log2(rank+1)) — precomputed, no transcendental in-plan
    1: 1000000, 2: 630929, 3: 500000, 4: 430676, 5: 386852,
    6: 356207, 7: 333333, 8: 315464, 9: 301029, 10: 289064,
}
_DISC_SQL = "CASE rnk " + " ".join(
    f"WHEN {r} THEN {d}" for r, d in _NDCG_DISC.items()
) + " ELSE 0 END"
_REL_SQL = """CASE event_type WHEN 'purchase' THEN 7 WHEN 'signup' THEN 3
              WHEN 'click' THEN 1 WHEN 'view' THEN 1 ELSE 0 END"""


@query(
    "q240_ndcg_at_10",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, {_REL_SQL} AS gain,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events
    ),
    by_score AS (
      SELECT user_id, gain,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY v_cents DESC, event_id) AS rnk
      FROM g
    ),
    by_ideal AS (
      SELECT user_id, gain,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY gain DESC, event_id) AS rnk
      FROM g
    ),
    dcg AS (
      SELECT user_id, CAST(SUM(gain * ({_DISC_SQL})) AS BIGINT) AS dcg_ppm
      FROM by_score WHERE rnk <= 10 GROUP BY user_id
    ),
    idcg AS (
      SELECT user_id, CAST(SUM(gain * ({_DISC_SQL})) AS BIGINT) AS idcg_ppm
      FROM by_ideal WHERE rnk <= 10 GROUP BY user_id
    )
    SELECT CAST(d.user_id AS BIGINT) AS user_id, d.dcg_ppm, i.idcg_ppm,
           CAST(d.dcg_ppm AS DOUBLE) / CAST(i.idcg_ppm AS DOUBLE) AS ndcg
    FROM dcg d JOIN idcg i ON i.user_id = d.user_id
    """,
)
def q240_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user — the ranking-quality metric, exact: graded
    gains (2^rel − 1 as integer literals), log2 position discounts
    entering as PRECOMPUTED ppm integers (the q214 Benford rule: no
    transcendental evaluates in either engine, so there is nothing to
    disagree about), DCG and ideal-DCG as int64 sums over the top-10 of
    two per-user rankings (score order vs gain order, both with the
    event_id total tiebreak), one final exact-integer division to a
    double. Per-user windows are retention-bounded; the discount CASE
    is a 10-arm codegen expression. This is how you grade a ranker's
    output table at corpus scale without a single float accumulation."""
    ev = load(spark, sf_dir, "events")
    gain = (
        F.when(F.col("event_type") == "purchase", 7)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 1)
        .otherwise(0)
    )
    g = ev.select(
        "user_id",
        "event_id",
        gain.alias("gain"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_cents"),
    )
    disc = F.lit(0)
    for r, d in _NDCG_DISC.items():
        disc = F.when(F.col("rnk") == r, d).otherwise(disc)
    ws = Window.partitionBy("user_id").orderBy(F.col("v_cents").desc(), "event_id")
    wi = Window.partitionBy("user_id").orderBy(F.col("gain").desc(), "event_id")
    dcg = (
        g.withColumn("rnk", F.row_number().over(ws))
        .filter(F.col("rnk") <= 10)
        .groupBy("user_id")
        .agg(F.sum(F.col("gain") * disc).cast("bigint").alias("dcg_ppm"))
    )
    idcg = (
        g.withColumn("rnk", F.row_number().over(wi))
        .filter(F.col("rnk") <= 10)
        .groupBy("user_id")
        .agg(F.sum(F.col("gain") * disc).cast("bigint").alias("idcg_ppm"))
    )
    return dcg.join(idcg, "user_id").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "dcg_ppm",
        "idcg_ppm",
        (F.col("dcg_ppm").cast("double") / F.col("idcg_ppm").cast("double")).alias(
            "ndcg"
        ),
    )


_RRF_K = 60
_RRF_PPM = {r: 1_000_000 // (_RRF_K + r) for r in range(1, 11)}
_RRF_SQL = "CASE rnk " + " ".join(
    f"WHEN {r} THEN {d}" for r, d in _RRF_PPM.items()
) + " ELSE 0 END"


@query(
    "q247_reciprocal_rank_fusion",
    oracle=f"""
    WITH by_value AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY floor(value * 100 + 0.5) DESC, event_id)
               AS rnk
      FROM events
    ),
    by_recency AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id) AS rnk
      FROM events
    ),
    contrib AS (
      SELECT user_id, event_id, {_RRF_SQL} AS ppm FROM by_value WHERE rnk <= 10
      UNION ALL
      SELECT user_id, event_id, {_RRF_SQL} AS ppm FROM by_recency WHERE rnk <= 10
    ),
    fused AS (
      SELECT user_id, event_id, CAST(SUM(ppm) AS BIGINT) AS rrf_ppm
      FROM contrib GROUP BY user_id, event_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_id, rrf_ppm,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT user_id, event_id, rrf_ppm,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY rrf_ppm DESC, event_id) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 5
    """,
)
def q247_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION — combine two rankers (value-ordered and
    recency-ordered, each cut at 10) into one list per user with
    RRF(d) = Σ 1/(60 + rank_i(d)): the standard zero-tuning ensemble
    for hybrid retrieval (BM25 ⊕ dense). The 1/(60+r) weights enter as
    integer-ppm literals for the 10 possible ranks (q240's rule), so
    fusion is a pure int64 sum; the final per-user re-rank carries the
    event_id total tiebreak. Plan: two per-user windows (retention-
    bounded), a UNION ALL, one combiner aggregate, one bounded window.
    Items missing from a ranker contribute 0 — RRF's defining
    robustness property, an outer-union not an inner join."""
    ev = load(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy(
        F.floor(F.col("value") * 100 + F.lit(0.5)).desc(), "event_id"
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), "event_id")
    ppm = F.lit(0)
    for r, d in _RRF_PPM.items():
        ppm = F.when(F.col("rnk") == r, d).otherwise(ppm)
    contrib = (
        ev.withColumn("rnk", F.row_number().over(wv))
        .filter(F.col("rnk") <= 10)
        .select("user_id", "event_id", ppm.alias("ppm"))
        .unionAll(
            ev.withColumn("rnk", F.row_number().over(wr))
            .filter(F.col("rnk") <= 10)
            .select("user_id", "event_id", ppm.alias("ppm"))
        )
    )
    fused = contrib.groupBy("user_id", "event_id").agg(
        F.sum("ppm").cast("bigint").alias("rrf_ppm")
    )
    wf = Window.partitionBy("user_id").orderBy(F.col("rrf_ppm").desc(), "event_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= 5)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_id",
            "rrf_ppm",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )


@query(
    "q248_half_life_decay",
    oracle="""
    WITH aged AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor((DATE '2024-02-01' - CAST(ts AS DATE)) / 7) AS BIGINT)
               AS weeks
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM(cents * (CAST(16 AS BIGINT) >> LEAST(weeks, 4))) AS BIGINT)
             AS decayed_16ths,
           CAST(SUM(cents) AS BIGINT) AS raw_cents
    FROM aged GROUP BY user_id
    """,
)
def q248_half_life_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALF-LIFE-DECAYED aggregation — recency-weighted lifetime value
    with a one-week half-life, EXACTLY: age buckets to whole weeks and
    the decay 2^(−weeks) becomes an integer RIGHT SHIFT of a 16× scaled
    weight (16 → 8 → 4 → 2 → 1, floored at 4 weeks), so the decayed sum
    is pure int64 — no exp(), no float accumulation, no cross-engine
    transcendental drift (exp-based decay cannot hash-match; this
    formulation is what you deploy when the leaderboard must be
    reproducible). One aggregate, combiner-friendly; the reference date
    is the pipeline's as-of date (the q53 snapshot-date pattern)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    weeks = F.floor(
        F.datediff(F.lit("2024-02-01"), F.to_date("ts")) / 7
    ).cast("bigint")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    wk = F.least(weeks, F.lit(4))
    w16 = (  # 16 >> min(weeks, 4); shiftright needs a literal bit count
        F.when(wk == 0, 16)
        .when(wk == 1, 8)
        .when(wk == 2, 4)
        .when(wk == 3, 2)
        .otherwise(1)
        .cast("bigint")
    )
    return (
        ev.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            (cents * w16).alias("dec"),
            cents.alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("dec").cast("bigint").alias("decayed_16ths"),
            F.sum("cents").cast("bigint").alias("raw_cents"),
        )
    )


@query(
    "q254_delta_encoding_estimate",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) // 1000000
               - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM events
    ),
    sized AS (
      SELECT user_id,
             CASE
               WHEN gap_s IS NULL THEN 8
               WHEN gap_s < 128 THEN 1
               WHEN gap_s < 16384 THEN 2
               WHEN gap_s < 2097152 THEN 3
               WHEN gap_s < 268435456 THEN 4
               ELSE 5 END AS nbytes
      FROM seq
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
           CAST(SUM(nbytes) AS BIGINT) AS delta_bytes,
           CAST(SUM(nbytes) * 1000000 // (COUNT(*) * 8) AS BIGINT) AS ratio_ppm
    FROM sized GROUP BY user_id
    """,
)
def q254_delta_encoding_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-ENCODING storage estimate — what a timestamp column costs
    per user after gap + varint coding versus raw int64: the sizing
    analysis behind every telemetry/timeseries storage engine (and
    parquet's own DELTA_BINARY_PACKED choice). Gaps come from one
    per-user LAG; varint byte counts are EXACT integer threshold
    arithmetic (1 byte under 2⁷, 2 under 2¹⁴, … — no log() in-plan,
    the q214 rule), the first event pays the full 8-byte anchor. One
    window + one aggregate on the same user key — a single exchange.
    The per-user ratio tells the storage planner which users' streams
    are regular enough for aggressive encoding; the corpus rollup is
    a trivial re-aggregation of this output."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    ).alias("gap_s")
    seq = ev.select("user_id", gap)
    nbytes = (
        F.when(F.col("gap_s").isNull(), 8)
        .when(F.col("gap_s") < 128, 1)
        .when(F.col("gap_s") < 16384, 2)
        .when(F.col("gap_s") < 2097152, 3)
        .when(F.col("gap_s") < 268435456, 4)
        .otherwise(5)
    )
    return (
        seq.select("user_id", nbytes.alias("nbytes"))
        .groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
            F.sum("nbytes").cast("bigint").alias("delta_bytes"),
            F.expr(
                "CAST(SUM(nbytes) * 1000000 DIV (COUNT(*) * 8) AS BIGINT)"
            ).alias("ratio_ppm"),
        )
    )


@query(
    "q255_cohens_kappa",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 8)
                       AS BIGINT) % 3 = 0 THEN 'keep' ELSE 'drop' END AS rater_a,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 8)
                       AS BIGINT) % 3 = 0 THEN 'keep' ELSE 'drop' END AS rater_b
      FROM documents
    ),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END) AS BIGINT)
               AS agree,
             CAST(SUM(CASE WHEN rater_a = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS a_keep,
             CAST(SUM(CASE WHEN rater_b = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS b_keep
      FROM labeled
    )
    SELECT n, agree, a_keep, b_keep,
           CAST((agree * n - (a_keep * b_keep + (n - a_keep) * (n - b_keep)))
                AS DOUBLE)
             / CAST((n * n - (a_keep * b_keep + (n - a_keep) * (n - b_keep)))
                AS DOUBLE) AS kappa
    FROM counts
    """,
)
def q255_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA inter-annotator agreement — the QA metric for any
    labeling pipeline (human raters or LLM judges): observed agreement
    corrected for the agreement two independent raters would reach by
    chance. κ = (pₒ−pₑ)/(1−pₑ) clears its denominators into one exact
    integer form, (agree·n − Σ marginal products)/(n² − Σ), so the only
    float is the final division (two exact int64s — identical IEEE in
    both engines). The two 'raters' here are deterministic hash rules
    standing in for label columns; swap in real annotation columns and
    nothing else changes. One pass, four conditional counters, scalar
    output — at 100 TB kappa costs exactly one combiner aggregate."""
    d = load(spark, sf_dir, "documents")

    def rater(salt):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        return F.when(h % 3 == 0, "keep").otherwise("drop")

    labeled = d.select(rater(":a").alias("rater_a"), rater(":b").alias("rater_b"))
    counts = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("rater_a") == F.col("rater_b"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum(F.when(F.col("rater_a") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("a_keep"),
        F.sum(F.when(F.col("rater_b") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("b_keep"),
    )
    chance = F.col("a_keep") * F.col("b_keep") + (F.col("n") - F.col("a_keep")) * (
        F.col("n") - F.col("b_keep")
    )
    return counts.select(
        "n",
        "agree",
        "a_keep",
        "b_keep",
        (
            (F.col("agree") * F.col("n") - chance).cast("double")
            / (F.col("n") * F.col("n") - chance).cast("double")
        ).alias("kappa"),
    )


@query(
    "q257_capped_sessions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 1000000 AS s,
             CASE WHEN epoch_us(ts) // 1000000
                       - LAG(epoch_us(ts) // 1000000) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800 OR LAG(ts) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_gap
      FROM events
    ),
    gapped AS (
      SELECT user_id, event_id, s,
             SUM(new_gap) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS UNBOUNDED PRECEDING) AS gap_sess
      FROM seq
    ),
    capped AS (
      SELECT user_id, gap_sess, event_id, s,
             (s - MIN(s) OVER (PARTITION BY user_id, gap_sess)) // 86400 AS sub
      FROM gapped
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(gap_sess AS BIGINT) AS gap_sess,
           CAST(sub AS BIGINT) AS sub_session,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(s) - MIN(s) AS BIGINT) AS span_s
    FROM capped GROUP BY user_id, gap_sess, sub
    """,
)
def q257_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUAL-CAP sessionization — split on a 30-minute inactivity gap OR
    a 24-hour maximum session duration. The duration cap LOOKS stateful
    (each split changes where the next cap starts), but measuring caps
    from the GAP-SESSION's start makes it declarative: gap sessions via
    the standard lag/flag/cumsum chain, then sub-sessions as
    ⌊(t − session_start)/24h⌋ — a second window over the SAME
    (user, time) ordering, so Spark plans one exchange and two window
    passes, no applyInPandas, no iteration (this is the fixed-boundary
    cap semantics CDNs/analytics warehouses use; the drifting-boundary
    variant where each sub-session restarts the clock IS order-recursive
    and needs a stateful per-user scan). Every
    sub-session provably spans ≤ 24h (test). Integer seconds end to
    end via floored epoch microseconds (the q254 rule)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = F.col("ts").cast("long")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        s.alias("s"),
        F.when(
            (s - F.lag(s).over(w) > 1800) | F.lag("ts").over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("new_gap"),
    )
    ws = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gapped = seq.withColumn("gap_sess", F.sum("new_gap").over(ws))
    wm = Window.partitionBy("user_id", "gap_sess")
    capped = gapped.withColumn(
        "sub", F.floor((F.col("s") - F.min("s").over(wm)) / 86400).cast("bigint")
    )
    return capped.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("gap_sess").cast("bigint").alias("gap_sess"),
        F.col("sub").alias("sub_session"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("s") - F.min("s")).cast("bigint").alias("span_s"),
    )


@query(
    "q258_time_decay_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, event_id AS conv_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, ts AS touch_ts
      FROM events WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
      SELECT c.user_id, c.conv_id, t.touch_id,
             CAST(16 AS BIGINT) >> LEAST(
               CAST((epoch_us(c.conv_ts) - epoch_us(t.touch_ts))
                    // (86400000000 * 7) AS BIGINT), 4) AS w16
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id AND t.touch_ts < c.conv_ts
       AND epoch_us(c.conv_ts) - epoch_us(t.touch_ts) <= 86400000000 * 30
    ),
    tot AS (
      SELECT conv_id, CAST(SUM(w16) AS BIGINT) AS total16
      FROM pairs GROUP BY conv_id
    ),
    credit AS (
      SELECT p.user_id, p.touch_id,
             CAST(p.w16 * 1000000 // t.total16 AS BIGINT) AS credit_ppm
      FROM pairs p JOIN tot t ON t.conv_id = p.conv_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, touch_id,
           CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM credit GROUP BY user_id, touch_id
    """,
)
def q258_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — each purchase distributes
    credit over the user's click/view touches in its trailing 30 days,
    weighted by the q248 half-life rule (2^(−weeks) as exact 16×-scaled
    integers), normalized per conversion into ppm shares by int64 floor
    division. Completes the attribution family: first/last (q124),
    linear (q205), and now recency-weighted — the three models every
    marketing warehouse reconciles. The touch×conversion pair join is
    user-keyed with a 30-day horizon bound (the fan-out is per-user
    retention-bounded, same contract as q90's cohort join); per-touch
    credit then re-aggregates across conversions. Zero floats anywhere —
    the shares are auditable integers that sum to ≤ 1e6 per conversion
    exactly."""
    ev = load(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), F.col("ts").alias("conv_ts")
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("touch_ts"),
    )
    # integer second ages via long casts (exact; epochs fit int64)
    age = F.col("conv_ts").cast("long") - F.col("touch_ts").cast("long")
    weeks = F.floor(age / (86400 * 7)).cast("int")
    wk = F.least(weeks, F.lit(4))
    w16 = (
        F.when(wk == 0, 16)
        .when(wk == 1, 8)
        .when(wk == 2, 4)
        .when(wk == 3, 2)
        .otherwise(1)
        .cast("bigint")
    )
    pairs = conv.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("conv_ts").cast("long") - F.col("touch_ts").cast("long")
            <= 86400 * 30
        ),
    ).select("user_id", "conv_id", "touch_id", w16.alias("w16"))
    tot = pairs.groupBy("conv_id").agg(
        F.sum("w16").cast("bigint").alias("total16")
    )
    credit = pairs.join(tot, "conv_id").select(
        "user_id",
        "touch_id",
        F.expr("CAST(w16 * 1000000 DIV total16 AS BIGINT)").alias("credit_ppm"),
    )
    return credit.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"), "touch_id"
    ).agg(
        F.sum("credit_ppm").cast("bigint").alias("credit_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
    )


@query(
    "q261_uplift_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':arm'), 1, 8)
                  AS BIGINT) % 2 AS BIGINT) AS treated,
             CAST(SUM(CASE WHEN event_type <> 'purchase'
                      THEN floor(value * 100 + 0.5) ELSE 0 END) AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT *, NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM per_user
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(treated) AS BIGINT) AS n_treated,
           CAST(SUM(1 - treated) AS BIGINT) AS n_control,
           CAST(SUM(treated * converted) AS BIGINT) AS conv_treated,
           CAST(SUM((1 - treated) * converted) AS BIGINT) AS conv_control,
           CAST(SUM(treated * converted) * 1000000 // NULLIF(SUM(treated), 0)
                - SUM((1 - treated) * converted) * 1000000
                  // NULLIF(SUM(1 - treated), 0) AS BIGINT) AS uplift_ppm
    FROM ranked GROUP BY decile
    """,
)
def q261_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT-BY-DECILE (Qini-table) — the evaluation every targeting
    model gets: users ranked by a score (non-purchase engagement value
    here), cut into deciles, and within each decile the TREATED minus
    CONTROL conversion rate (arms assigned by stable hash — q219's SRM
    machinery guarantees the split is sound). All counts integer; the
    per-decile rates and their difference are int64 ppm floor-divisions
    — the uplift column is auditable arithmetic, not float soup. NTILE
    runs on the per-user aggregate (|users| rows, entity-bounded);
    production replaces it with the q153 equi-depth boundaries joined
    as a broadcast when even per-user tables are too wide for one
    ordering. Top deciles positive + bottom near zero = the model
    targets persuadables; uniform = the score is noise."""
    ev = load(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":arm"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.first(arm).alias("treated"),
        F.sum(
            F.when(
                F.col("event_type") != "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("converted"),
    )
    from hoops_edge_database_etl_spark.operators.rowids import distributed_ntile

    # r10 global-window audit: the decile cut runs as distributed_ntile
    # (range partition + prefix offsets), not a single-reducer window
    # over the user-proportional aggregate
    ranked = distributed_ntile(
        per_user, 10, [F.col("score").desc(), "user_id"], tile_col="decile"
    )
    return ranked.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.sum("treated").cast("bigint").alias("n_treated"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("n_control"),
        F.sum(F.col("treated") * F.col("converted"))
        .cast("bigint")
        .alias("conv_treated"),
        F.sum((1 - F.col("treated")) * F.col("converted"))
        .cast("bigint")
        .alias("conv_control"),
        F.expr(
            """CAST(SUM(treated * converted) * 1000000 DIV NULLIF(SUM(treated), 0)
               - SUM((1 - treated) * converted) * 1000000
                 DIV NULLIF(SUM(1 - treated), 0) AS BIGINT)"""
        ).alias("uplift_ppm"),
    )


@query(
    "q262_churn_labels",
    oracle="""
    WITH span AS (
      SELECT user_id,
             MIN(epoch_us(ts) // 1000000) AS first_s,
             MAX(epoch_us(ts) // 1000000) AS last_s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(epoch_us(TIMESTAMP '2024-01-31') // 1000000 AS BIGINT) AS obs_end
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events,
           CAST(CASE WHEN obs_end - last_s > 7 * 86400 THEN 1 ELSE 0 END AS BIGINT)
             AS churned,
           CAST(CASE WHEN obs_end - first_s < 14 * 86400 THEN 1 ELSE 0 END AS BIGINT)
             AS censored
    FROM span, obs
    """,
)
def q262_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN LABEL GENERATION with censoring — the supervised-label
    build ML teams get subtly wrong: a user is 'churned' if silent for
    the last 7 days of the observation window, and CENSORED (excluded
    from training, not labeled active) if their history is too short
    (< 14 days observed) to support the label — without the censoring
    flag, late joiners pollute the negative class. One per-user
    aggregate against a fixed as-of date (the q53/q248 snapshot rule);
    integer epoch seconds throughout. Downstream training reads
    WHERE censored = 0; the label distribution report is a rollup of
    this output."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("first_s"),
        F.max(F.col("ts").cast("long")).alias("last_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    # fixed UTC as-of: 2024-01-31T00:00:00Z (session timezone is UTC)
    obs_end = F.to_timestamp(F.lit("2024-01-31 00:00:00")).cast("long")
    return span.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_events",
        F.when(obs_end - F.col("last_s") > 7 * 86400, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("churned"),
        F.when(obs_end - F.col("first_s") < 14 * 86400, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("censored"),
    )


@query(
    "q263_calibration_error",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000
               // 49002 AS conf_ppm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    binned AS (
      SELECT LEAST(conf_ppm * 10 // 1000000, 9) AS bin, conf_ppm, y
      FROM scored
    ),
    per_bin AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf_ppm
      FROM binned GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
           CAST(sum_conf_ppm // n AS BIGINT) AS avg_conf_ppm,
           CAST(n_pos * 1000000 // n AS BIGINT) AS acc_ppm,
           CAST(abs(sum_conf_ppm // n - n_pos * 1000000 // n) AS BIGINT)
             AS gap_ppm
    FROM per_bin
    """,
)
def q263_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) TABLE — does a score of 0.7 convert 70%
    of the time? Scores normalize to ppm confidences (value over its
    max, exact integers), bucket into 10 confidence bins, and each bin
    reports average confidence vs realized rate and their |gap| — the
    per-bin table whose n-weighted gap sum is Expected Calibration
    Error. Every column is an int64 floor-division of exact counts; no
    float appears anywhere, so the ECE a model-risk auditor recomputes
    from this table matches bit-for-bit. One combiner aggregate over
    the fact stream; 10 output rows at any scale."""
    ev = load(spark, sf_dir, "events")
    # 49002 = the score domain's max cents (value tops out at 490.02);
    # production derives it from a first-pass MAX broadcast (q176's recipe).
    conf = F.expr(
        "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000 DIV 49002 AS BIGINT)"
    )
    scored = ev.select(
        conf.alias("conf_ppm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.expr("conf_ppm * 10 DIV 1000000"), F.lit(9)).alias("bin"),
        "conf_ppm",
        "y",
    )
    per_bin = binned.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("conf_ppm").cast("bigint").alias("sum_conf_ppm"),
    )
    return per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.expr("CAST(sum_conf_ppm DIV n AS BIGINT)").alias("avg_conf_ppm"),
        F.expr("CAST(n_pos * 1000000 DIV n AS BIGINT)").alias("acc_ppm"),
        F.expr(
            "CAST(abs(sum_conf_ppm DIV n - n_pos * 1000000 DIV n) AS BIGINT)"
        ).alias("gap_ppm"),
    )


# RBO(p=1/2, depth 10) exact integer machinery: an item first covered at
# overlap depth m contributes W(m) = Σ_{d=m..10} scale·(1−p)·p^(d−1)/d with
# scale = lcm(1..10)·2⁹ = 1290240 — every term integral, no float until the
# single final division. (q214's precomputed-literal rule applied to RBO.)
_RBO_SCALE = 1290240
_RBO_W = {1: 894220, 2: 249100, 3: 87820, 4: 34060, 5: 13900,
          6: 5836, 7: 2476, 8: 1036, 9: 406, 10: 126}
_RBO_W_SQL = "CASE m " + " ".join(
    f"WHEN {m} THEN {w}" for m, w in _RBO_W.items()
) + " ELSE 0 END"


@query(
    "q265_rank_biased_overlap",
    oracle=f"""
    WITH by_value AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY floor(value * 100 + 0.5) DESC, event_id)
               AS ra
      FROM events
    ),
    by_recency AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id) AS rb
      FROM events
    ),
    covered AS (
      SELECT a.user_id, GREATEST(a.ra, b.rb) AS m
      FROM by_value a JOIN by_recency b
        ON b.user_id = a.user_id AND b.event_id = a.event_id
      WHERE a.ra <= 10 AND b.rb <= 10
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM({_RBO_W_SQL}) AS BIGINT) AS rbo_scaled,
           CAST(SUM({_RBO_W_SQL}) AS DOUBLE) / {_RBO_SCALE} AS rbo
    FROM covered GROUP BY user_id
    """,
)
def q265_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP between two rankers (value-order vs recency-
    order, p = 1/2, depth 10) — the top-weighted list-similarity metric
    for comparing ranker versions before a swap (Kendall's τ treats
    rank 1 and rank 100 alike; RBO weights the head). The identity that
    makes it one aggregation: Σ_d w_d·|A_d ∩ B_d| re-groups per ITEM as
    W(max(rank_A, rank_B)) — suffix-sum weights precomputed as exact
    integers over the lcm·2⁹ grid, so the per-user score is an int64
    sum with one final division. Join the two top-10 rankings on
    (user, item), a 10-arm CASE, one aggregate — per-user bounded
    everywhere. Complements q247 (fusing rankers) and q251 (grading an
    index): this one decides whether two rankers even disagree."""
    ev = load(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy(
        F.floor(F.col("value") * 100 + F.lit(0.5)).desc(), "event_id"
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), "event_id")
    a = ev.select(
        "user_id", "event_id", F.row_number().over(wv).alias("ra")
    ).filter(F.col("ra") <= 10)
    b = ev.select(
        F.col("user_id").alias("ub"),
        F.col("event_id").alias("eb"),
        F.row_number().over(wr).alias("rb"),
    ).filter(F.col("rb") <= 10)
    both = a.join(
        b, (F.col("ub") == F.col("user_id")) & (F.col("eb") == F.col("event_id"))
    ).select("user_id", F.greatest("ra", "rb").alias("m"))
    w_expr = F.lit(0)
    for m, w in _RBO_W.items():
        w_expr = F.when(F.col("m") == m, w).otherwise(w_expr)
    return both.groupBy(F.col("user_id").cast("bigint").alias("user_id")).agg(
        F.sum(w_expr).cast("bigint").alias("rbo_scaled"),
        (F.sum(w_expr).cast("double") / _RBO_SCALE).alias("rbo"),
    )


# O'Brien-Fleming-style two-look z boundaries (alpha=0.05 two-sided),
# precomputed to ppm (the q214/q240 literal rule): look 1 (50% of data)
# crosses at |z| >= 2.7965, look 2 (100%) at |z| >= 1.9774.
_OBF_Z_PPM = {1: 2796500, 2: 1977400}


@query(
    "q274_sequential_ab_looks",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':arm'),
                        1, 8) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 ELSE 2 END
               AS look
      FROM events
    ),
    cum AS (
      SELECT l.lk AS look,
             CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT) AS x1,
             CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT) AS x0
      FROM assigned, unnest([1, 2]) AS l(lk)
      WHERE assigned.look <= l.lk
      GROUP BY l.lk
    )
    SELECT look, n1, x1, n0, x0,
           (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
             / sqrt(CAST(x1 + x0 AS DOUBLE) / (n1 + n0)
                    * (1 - CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                    * (1.0 / n1 + 1.0 / n0)) AS z,
           CAST(CASE WHEN abs(
             (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
               / sqrt(CAST(x1 + x0 AS DOUBLE) / (n1 + n0)
                      * (1 - CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                      * (1.0 / n1 + 1.0 / n0))) * 1000000
             >= CASE look WHEN 1 THEN {_OBF_Z_PPM[1]} ELSE {_OBF_Z_PPM[2]} END
           THEN 1 ELSE 0 END AS BIGINT) AS crossed
    FROM cum
    """,
)
def q274_sequential_ab_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL A/B ANALYSIS (O'Brien–Fleming two looks) — the
    peeking-safe experiment readout: cumulative two-proportion z at an
    interim look (first half of the window) and the final look, each
    compared to its spending-function boundary (the boundaries enter as
    ppm literals — precomputed, never a normal quantile in-plan; the
    q214 rule). Naive daily peeking at |z|≥1.96 inflates false
    positives several-fold; the widened interim boundary (2.80) is what
    makes early stopping sound. Arithmetic: counts exact int64 (arms by
    stable hash — q219's assignment), the z statistic is pure IEEE
    double ops over those integers (sqrt sanctioned), identical in both
    engines. Each look is the SAME cumulative aggregate with a date
    cutoff — the unnest([1,2]) trick computes both looks in one grouped
    pass over the fact stream."""
    ev = load(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":arm"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    assigned = ev.select(
        F.when(arm == 0, 1).otherwise(0).alias("treated"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.when(F.to_date("ts") < "2024-01-16", 1).otherwise(2).alias("ev_look"),
    )
    looks = assigned.crossJoin(
        F.broadcast(
            ev.sparkSession.createDataFrame([(1,), (2,)], "look int")
        )
    ).filter(F.col("ev_look") <= F.col("look"))
    cum = looks.groupBy(F.col("look").cast("bigint").alias("look")).agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("x0"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p0 = F.col("x0").cast("double") / F.col("n0")
    pp = (F.col("x1") + F.col("x0")).cast("double") / (F.col("n1") + F.col("n0"))
    z = (p1 - p0) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n0"))
    )
    bound = F.when(F.col("look") == 1, _OBF_Z_PPM[1]).otherwise(_OBF_Z_PPM[2])
    return cum.select(
        "look",
        "n1",
        "x1",
        "n0",
        "x0",
        z.alias("z"),
        F.when(F.abs(z) * 1000000 >= bound, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("crossed"),
    )


@query(
    "q278_bandit_allocation",
    oracle="""
    WITH arms AS (
      SELECT event_type AS arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN floor(value * 100 + 0.5) >= 25000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS wins
      FROM events GROUP BY event_type
    ),
    post AS (
      SELECT arm, n, wins,
             CAST((wins + 1) * 1000000 // (n + 2) AS BIGINT) AS posterior_ppm
      FROM arms
    ),
    tot AS (SELECT CAST(SUM(posterior_ppm) AS BIGINT) AS tp FROM post),
    quota AS (
      SELECT arm, n, wins, posterior_ppm,
             CAST(1000 * posterior_ppm // tp AS BIGINT) AS base_alloc,
             CAST(1000 * posterior_ppm % tp AS BIGINT) AS rem
      FROM post, tot
    )
    SELECT arm, n, wins, posterior_ppm,
           CAST(base_alloc + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, arm)
                 <= 1000 - (SELECT SUM(base_alloc) FROM quota)
                THEN 1 ELSE 0 END AS BIGINT) AS next_batch_alloc
    FROM quota
    """,
)
def q278_bandit_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE TRAFFIC ALLOCATION — the bandit re-balancing step an
    experimentation platform runs between batches: per arm, the
    Beta(1,1)-posterior mean success rate ((wins+1)/(n+2), Laplace-
    smoothed, exact ppm — the deterministic core of Thompson sampling
    with the RNG draw deliberately replaced by the mean, since RNG can
    never hash-match and mean-allocation is the deployable greedy
    variant), then the next 1000 requests apportioned proportionally
    by LARGEST REMAINDER (q267's seat-allocation machinery — Σ ≡ 1000
    exactly, test-pinned). One grouped pass for the arm stats; windows
    touch only the |arms|-row table. Swap the win condition for a real
    reward column and this is production shape."""
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy(F.col("event_type").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.floor(F.col("value") * 100 + F.lit(0.5)) >= 25000, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("wins"),
    )
    post = arms.withColumn(
        "posterior_ppm",
        F.expr("CAST((wins + 1) * 1000000 DIV (n + 2) AS BIGINT)"),
    )
    tot = post.agg(F.sum("posterior_ppm").cast("bigint").alias("tp"))
    quota = post.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        "wins",
        "posterior_ppm",
        F.expr("CAST(1000 * posterior_ppm DIV tp AS BIGINT)").alias("base_alloc"),
        F.expr("CAST(1000 * posterior_ppm % tp AS BIGINT)").alias("rem"),
    )
    short = quota.agg(
        (F.lit(1000) - F.sum("base_alloc")).cast("bigint").alias("short")
    )
    wr = Window.orderBy(F.col("rem").desc(), "arm")
    return (
        quota.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(wr))
        .select(
            "arm",
            "n",
            "wins",
            "posterior_ppm",
            (
                F.col("base_alloc")
                + F.when(F.col("rr") <= F.col("short"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("next_batch_alloc"),
        )
    )


@query(
    "q287_behavior_edit_distance",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(levenshtein(a.seq, b.seq) AS BIGINT) AS edit_dist,
             CAST(length(a.seq) AS BIGINT) AS len_a,
             CAST(length(b.seq) AS BIGINT) AS len_b
      FROM coded a JOIN coded b
        ON b.user_id > a.user_id
       AND abs(length(a.seq) - length(b.seq)) <= 35
    )
    SELECT CAST(user_a AS BIGINT) AS user_a, CAST(user_b AS BIGINT) AS user_b,
           edit_dist, len_a, len_b
    FROM pairs WHERE edit_dist <= 35
    """,
)
def q287_behavior_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEHAVIORAL SIMILARITY JOIN by edit distance — users whose coded
    event sequences (the q237 one-char-per-event fold) are within 35
    edits (calibrated: this corpus' pairwise distances start at ~33): the sequence-level cohorting that set-based similarity
    (q154/q165) cannot see, because ORDER is the signal (view-error-
    purchase ≠ purchase-error-view). Both engines evaluate the SAME
    built-in levenshtein (exact integer DP) — the q18 fuzzy-join
    machinery promoted from names to behavior streams. The LENGTH
    prefILTER is load-bearing: |len_a − len_b| ≤ t lower-bounds the
    edit distance, so it prunes BEFORE any DP runs and, at scale,
    becomes the q245-style length-band equi-join (band = len DIV t, join
    adjacent bands) instead of a user² comparison — the docstring
    contract the plan audit holds this family to. Entity-bounded
    sequences (retention) keep each DP cell count small; the output is
    the sparse near-pair set."""
    ev = load(spark, sf_dir, "events")
    coded = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                        )
                    )
                ),
                lambda s: s.c,
            ),
            "",
        ).alias("seq")
    )
    # Length-band EQUI-join (round 7 — the docstring's scale contract,
    # now the actual plan): |len_a − len_b| <= t implies the bands
    # len div t differ by at most 1, so exploding the LEFT side to its
    # band ± 1 and equi-joining on the right side's own band meets every
    # qualifying pair exactly once — a shuffle hash join keyed on band,
    # never a BroadcastNestedLoopJoin over users². The levenshtein is
    # the THRESHOLD-bounded 3-arg form (banded DP, O(len·t) per pair,
    # returns −1 above t — exact at or below it, so the kept rows carry
    # the true distance and the filter is the same set).
    # The band key is LOW-CARDINALITY by construction (band = len div t;
    # a length-homogeneous cohort occupies 2-3 bands), so a plain
    # band-equi-join hands every candidate pair to 2-3 reducers and the
    # levenshtein stage runs on that many cores (round 8: measured 46 s
    # at sf0.1 on 2 of 32 cores — the q482 stream-side lesson in
    # join-key form). SALT the join (the q87 skew pattern): each a-row
    # takes one hash salt, b replicates across all salts, and the join
    # key (band, salt) spreads pair production AND the DP across
    # band_count x SALT reducers with no extra shuffle. Same pair set:
    # every (a, b) meets exactly once.
    #
    # Salt GRANULARITY is its own scale knob (round 9, measured at
    # sf1j): with salts=32 the ~2 occupied bands produce only 64 cells,
    # and Murmur3 hashpartitioning packed them onto 37 of 64 partitions
    # — the worst partition drew 5 cells = 10.2% of the total DP cost,
    # so the sf1j run spent >60% of its 549 s wall on one core (the
    # classic balls-into-bins tail, NOT data skew: the cells themselves
    # are uniform to ~2.5%). Cells must OUTNUMBER partitions' collision
    # scale, and partitions must outnumber cells: salts=64 gives 128
    # near-uniform cells (~1.2% each) and 8*salts=512 partitions packs
    # the worst partition at 2.6% < 1/32 — simulated wall factor 1.00x
    # vs 3.27x for the 32/64 grid (scripts/ lineage: .scratch diag,
    # numbers in SOAK_r09 note). At cluster scale the same rule holds
    # symbolically: salts ~ 2-4x target cores / occupied bands,
    # partitions ~ 4-8x cells; replication cost on b is salts x a few
    # hundred bytes per user — noise next to the n^2/salts DP cells.
    t = 35
    salts = 64
    a = coded.select(
        F.col("user_id").alias("user_a"),
        F.col("seq").alias("seq_a"),
        F.explode(
            F.array(
                (F.length("seq") / t).cast("long") - 1,
                (F.length("seq") / t).cast("long"),
                (F.length("seq") / t).cast("long") + 1,
            )
        ).alias("band"),
        F.pmod(F.xxhash64("user_id"), F.lit(salts)).cast("int").alias("salt"),
    )
    # Explicit re-spread of b (the q482 lesson): b's lineage is a tiny
    # agg output that AQE coalesces to 1-2 partitions, and under the
    # round-8 broadcast plan that serialized the whole 1.1M-pair
    # fan-out AND its banded DP onto as many cores (round 8: measured
    # ~50 s at sf0.1 single-core vs ~4.4 s spread; a first fix
    # repartitioned the OTHER side and changed nothing — the exchange
    # must be on the side that streams). REPARTITION_BY_NUM is exempt
    # from AQE coalescing, and the (band, salt) key matches the join,
    # so the shuffle-hash join below reuses it as-is and inherits its
    # 512-way parallelism.
    b = coded.select(
        F.col("user_id").alias("user_b"),
        F.col("seq").alias("seq_b"),
        (F.length("seq") / t).cast("long").alias("band"),
        F.explode(F.array([F.lit(s) for s in range(salts)])).alias("salt"),
    ).repartition(8 * salts, "band", "salt")
    # Pin the plan with a SHUFFLE_HASH hint on a (round 9): the round-8
    # broadcast pin stabilized sf0.1 but was a hard failure at scale —
    # Spark honors an explicit broadcast hint REGARDLESS of
    # autoBroadcastJoinThreshold, so past the 8 GB broadcast limit the
    # job dies instead of falling back to the shuffle join (there is no
    # "Catalyst ignores the hint" safety valve). A shuffle-hash hint is
    # the deterministic version of the plan we actually want at every
    # scale: both sides co-partition on (band, salt) — b's explicit
    # 512-way exchange is reused, a shuffles to match — the hinted side
    # builds the per-partition hash map, and the salted key spreads the
    # pair fan-out and the banded DP across all 512 reducers. No size
    # race (the round-8 6 s / 52 s alternation came from AQE picking
    # which side to broadcast), no broadcast ceiling.
    pairs = a.hint("shuffle_hash").join(b, ["band", "salt"]).filter(
        (F.col("user_b") > F.col("user_a"))
        & (F.abs(F.length("seq_a") - F.length("seq_b")) <= t)
    )
    return (
        pairs.withColumn(
            "edit_dist", F.levenshtein("seq_a", "seq_b", t).cast("bigint")
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= t))
        .select(
            F.col("user_a").cast("bigint").alias("user_a"),
            F.col("user_b").cast("bigint").alias("user_b"),
            "edit_dist",
            F.length("seq_a").cast("bigint").alias("len_a"),
            F.length("seq_b").cast("bigint").alias("len_b"),
        )
    )


@query(
    "q294_max_drawdown",
    oracle="""
    WITH signed AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CASE event_type
               WHEN 'purchase' THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
               WHEN 'error' THEN -CAST(floor(value * 100 + 0.5) AS BIGINT)
               ELSE 0 END AS delta_cents
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    bal AS (
      SELECT user_id, s, event_id, delta_cents,
             SUM(delta_cents) OVER w AS balance
      FROM signed
      WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    cum AS (
      SELECT user_id, delta_cents, balance,
             MAX(balance) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS UNBOUNDED PRECEDING) AS peak
      FROM bal
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(MAX(peak) AS BIGINT) AS peak_cents,
           CAST(SUM(delta_cents) AS BIGINT) AS final_cents,
           CAST(MAX(peak - balance) AS BIGINT) AS max_drawdown_cents
    FROM cum GROUP BY user_id
    """,
)
def q294_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX DRAWDOWN — the worst peak-to-trough slide of a running
    balance (unit-economics per user: purchases add revenue cents,
    errors charge their support cost). The classic O(n) scan —
    running sum, running max of the running sum, max of the
    difference — expressed as two stacked window frames over ONE
    per-user ordering (epoch seconds + event_id tiebreak, the q31
    total-order rule), so Tungsten computes both accumulators in a
    single sort pass: one shuffle on user_id, no self-join, no
    driver state. All integer cents; drawdown is provably >= 0 and
    peak >= final (property-tested)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    signed = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("delta_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        signed.select(
            "user_id",
            "s",
            "event_id",
            "delta_cents",
            F.sum("delta_cents").over(w).alias("balance"),
        )
        .withColumn("peak", F.max("balance").over(w))
        .drop("s", "event_id")
    )
    return cum.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_flows"),
        F.max("peak").cast("bigint").alias("peak_cents"),
        F.sum("delta_cents").cast("bigint").alias("final_cents"),
        F.max(F.col("peak") - F.col("balance"))
        .cast("bigint")
        .alias("max_drawdown_cents"),
    )


@query(
    "q295_coverage_gaps",
    oracle=f"""
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_LEN_S} AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prev_e
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN max_prev_e IS NULL OR s > max_prev_e
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ),
    agg AS (
      SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
      FROM isl GROUP BY user_id, island
    ),
    gaps AS (
      SELECT user_id, i_start, i_end,
             i_start - LAG(i_end) OVER (PARTITION BY user_id
                                        ORDER BY island) AS gap_s
      FROM agg
    )
    SELECT user_id,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           CAST(COALESCE(SUM(gap_s), 0) AS BIGINT) AS total_gap_seconds,
           CAST(COALESCE(MAX(gap_s), 0) AS BIGINT) AS longest_gap_seconds,
           CAST(MAX(i_end) - MIN(i_start) AS BIGINT) AS span_seconds
    FROM gaps GROUP BY user_id
    """,
)
def q295_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVERAGE GAPS — the complement of q147's interval union: every
    event opens a 30-minute heartbeat window; this reports the BLIND
    SPOTS (monitoring downtime, sensor dropout, missing telemetry)
    between merged islands. Same single window pass to number islands,
    then one LAG over the per-user island aggregate (a few rows per
    user, not per event) yields each gap as island_start - prev
    island_end. Invariant property-tested against q147: covered +
    gaps == span, per user, exactly — the two queries are a
    partition of the timeline, and the test would catch either one
    double-counting a boundary second."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + INTERVAL_LEN_S).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "max_prev_e",
        F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
    )
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("max_prev_e").isNull() | (F.col("s") > F.col("max_prev_e")),
                1,
            ).otherwise(0)
        ).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    agg = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    wg = Window.partitionBy("user_id").orderBy("island")
    gaps = agg.withColumn(
        "gap_s", F.col("i_start") - F.lag("i_end").over(wg)
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.coalesce(F.sum("gap_s"), F.lit(0))
        .cast("bigint")
        .alias("total_gap_seconds"),
        F.coalesce(F.max("gap_s"), F.lit(0))
        .cast("bigint")
        .alias("longest_gap_seconds"),
        (F.max("i_end") - F.min("i_start"))
        .cast("bigint")
        .alias("span_seconds"),
    )


@query(
    "q296_daily_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(ts AS DATE) - DATE '2024-01-01' AS d
      FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS g
      FROM days
    ),
    streaks AS (
      SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS start_d
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           strftime(DATE '2024-01-01' + CAST(MIN(CASE WHEN len = (
             SELECT MAX(len) FROM streaks s2 WHERE s2.user_id = streaks.user_id
           ) THEN start_d END) AS INTEGER), '%Y-%m-%d') AS longest_streak_start
    FROM streaks GROUP BY user_id
    """,
)
def q296_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSECUTIVE-DAY STREAKS (gaps-and-islands on the integer day
    grid): the canonical d - ROW_NUMBER() trick — consecutive days
    share a constant difference, so the group key falls out of one
    window over the per-user DISTINCT day list (tiny: <= span days per
    user, the heavy raw-event table collapses in the distinct's
    map-side combine first). Reports longest streak and its start
    date; ties on length resolve to the EARLIEST start (deterministic
    MIN over a conditional). Streak analytics at 100 TB stay safe
    because the window input is bounded by calendar days x users,
    never by raw event volume."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("d"),
    ).distinct()
    wd = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn("g", F.col("d") - F.row_number().over(wd))
    streaks = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("d").alias("start_d"),
    )
    wl = Window.partitionBy("user_id")
    marked = streaks.withColumn("max_len", F.max("len").over(wl))
    return marked.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak_days"),
        F.date_format(
            F.date_add(
                F.to_date(F.lit("2024-01-01")),
                F.min(
                    F.when(
                        F.col("len") == F.col("max_len"), F.col("start_d")
                    )
                ).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("longest_streak_start"),
    )


WATERMARK_THRESHOLDS_S = (60, 300, 900, 3600)


@query(
    "q299_watermark_advisor",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events
    ),
    run AS (
      SELECT event_type,
             MAX(t) OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) - t AS late_s
      FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(late_s) AS BIGINT) AS max_lateness_s,
           CAST(SUM(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_60s,
           CAST(SUM(CASE WHEN late_s > 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_300s,
           CAST(SUM(CASE WHEN late_s > 900 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_900s,
           CAST(SUM(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_at_3600s
    FROM run GROUP BY event_type
    """,
)
def q299_watermark_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK ADVISOR — measures a stream's event-time DISORDER so
    the `withWatermark` delay is chosen from data, not folklore: in
    arrival order (event_id is the monotone ingest sequence; Kafka
    offset in production), an event's lateness is running-max(event
    time) − its own event time — exactly the quantity a Structured
    Streaming watermark of delay D compares against when deciding to
    drop. Reports, per source partition (event_type here — watermarks
    track per-partition maxima), the would-be drop count at each
    candidate delay and the max observed lateness (the delay that
    loses nothing). One window per partition in arrival order, then a
    map-side-combining rollup; thresholds are literal so the counts
    are conditional sums, not joins. This is the batch companion the
    streaming gates (q71/q95/q156) assume when they pick delays; at
    100 TB it's one sort per source partition — the same cost the
    stream itself pays to resequence."""
    ev = load(spark, sf_dir, "events")
    arr = ev.select(
        "event_type", "event_id", F.col("ts").cast("long").alias("t")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = arr.select(
        "event_type", (F.max("t").over(w) - F.col("t")).alias("late_s")
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("late_s").cast("bigint").alias("max_lateness_s"),
    ] + [
        F.sum(F.when(F.col("late_s") > F.lit(th), 1).otherwise(0))
        .cast("bigint")
        .alias(f"dropped_at_{th}s")
        for th in WATERMARK_THRESHOLDS_S
    ]
    return run.groupBy("event_type").agg(*aggs)


# Shapley over the 3-channel game: literal (channel_bit, subset-without-c,
# x6 weight |S|!(2-|S|)!) rows, generated once here and inlined into BOTH
# engines' plans so only v(S) comes from data.
_SHAP_CHANNELS = {"view": 1, "click": 2, "signup": 4}
_SHAP_TERMS = [
    (name, bit, s, 2 if bin(s).count("1") in (0, 2) else 1)
    for name, bit in _SHAP_CHANNELS.items()
    for s in range(8)
    if s & bit == 0
]
_SHAP_TERMS_SQL = ", ".join(
    f"('{n}', {b}, {s}, {w})" for n, b, s, w in _SHAP_TERMS
)
_SHAP_SUBSETS_SQL = ", ".join(f"({s})" for s in range(8))


@query(
    "q313_shapley_attribution",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
               AS INTEGER)
             + 2 * CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
               AS INTEGER)
             + 4 * CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) > 0
               AS INTEGER) AS mask,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
               AS INTEGER) AS converted
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT mask, CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM per_user GROUP BY mask
    ),
    v AS (
      SELECT s.s, CAST(COALESCE(SUM(c.n_conv), 0) AS BIGINT) AS val
      FROM (VALUES {_SHAP_SUBSETS_SQL}) AS s(s)
      LEFT JOIN conv c ON (c.mask & s.s) = c.mask
      GROUP BY s.s
    )
    SELECT t.channel,
           CAST(SUM(t.w * (vc.val - vs.val)) AS BIGINT) AS shapley_x6,
           CAST(SUM(t.w * (vc.val - vs.val)) AS DOUBLE) / 6 AS shapley
    FROM (VALUES {_SHAP_TERMS_SQL}) AS t(channel, bit, s, w)
    JOIN v vs ON vs.s = t.s
    JOIN v vc ON vc.s = t.s + t.bit
    GROUP BY t.channel
    """,
)
def q313_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY channel attribution — the game-theoretic split of
    conversion credit that q124 (position), q205 (linear), and q258
    (time-decay) approximate with heuristics: with channels
    {{view, click, signup}} and coalition value v(S) = conversions
    among users whose touched-channel set fits inside S, channel c
    earns phi_c = sum over S of |S|!·(n−1−|S|)!/n! · (v(S+c) − v(S)).
    With n=3 the weights x6 are integers (2,1,1,2), so shapley_x6 is
    EXACT — no sampling, no float permutation averaging. The data
    side is two bounded aggregates: one per-user bitmask rollup (the
    only real shuffle; bool-to-bit sums, map-side combined) and an
    8-row mask histogram; everything else — the subset lattice, the
    12 marginal-contribution terms — is LITERAL rows both engines
    fold. Efficiency axiom property-tested: sum of Shapley values
    equals v(grand coalition) − v(empty) exactly in x6 integers.
    Beyond 3 channels the lattice doubles per channel — the exact
    form holds to ~n=20 masks before the q73-style sampled
    permutation estimate takes over."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    conv = per_user.groupBy("mask").agg(
        F.sum("converted").cast("long").alias("n_conv")
    )
    subsets = local_frame(spark, [(s,) for s in range(8)], "s int")
    v = (
        subsets.join(
            F.broadcast(conv), F.expr("(mask & s) = mask"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("val"))
    )
    terms = local_frame(spark, _SHAP_TERMS, "channel string, bit int, s int, w int")
    vs = v.select(F.col("s").alias("s0"), F.col("val").alias("v_without"))
    vc = v.select(F.col("s").alias("s1"), F.col("val").alias("v_with"))
    return (
        terms.join(F.broadcast(vs), F.col("s") == F.col("s0"))
        .join(F.broadcast(vc), F.expr("s + bit") == F.col("s1"))
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_with") - F.col("v_without")))
            .cast("bigint")
            .alias("shapley_x6"),
            (
                F.sum(F.col("w") * (F.col("v_with") - F.col("v_without"))).cast(
                    "double"
                )
                / 6
            ).alias("shapley"),
        )
    )


STORM_WINDOW_S = 21600  # 6h sliding burst window
STORM_MIN_ERRORS = 3    # trigger threshold inside the window


@query(
    "q314_retry_storm_detector",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events WHERE event_type = 'error'
    ),
    burst AS (
      SELECT user_id, event_id, s,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN {STORM_WINDOW_S} PRECEDING
                                      AND CURRENT ROW) AS n_in_window
      FROM e
    ),
    trig AS (
      SELECT user_id, event_id, s, n_in_window,
             CASE WHEN s - LAG(s) OVER (PARTITION BY user_id
                    ORDER BY s, event_id) > {STORM_WINDOW_S}
                  OR LAG(s) OVER (PARTITION BY user_id
                    ORDER BY s, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM burst WHERE n_in_window >= {STORM_MIN_ERRORS}
    ),
    epi AS (
      SELECT user_id, s, n_in_window,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS episode
      FROM trig
    )
    SELECT user_id, CAST(episode AS BIGINT) AS episode,
           CAST(MIN(s) AS BIGINT) AS first_trigger_s,
           CAST(MAX(s) AS BIGINT) AS last_trigger_s,
           CAST(COUNT(*) AS BIGINT) AS n_triggers,
           CAST(MAX(n_in_window) AS BIGINT) AS peak_burst
    FROM epi GROUP BY user_id, episode
    """,
)
def q314_retry_storm_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRY-STORM DETECTOR — the SRE alert that catches clients stuck in
    tight error loops: a RANGE-framed sliding count (21600s,
    event-TIME based, so burst width is wall-clock — not the last-N-rows
    frame, which dilates under low traffic) flags every error arriving
    with >= 3 errors in its trailing window; triggers
    closer than one window-width chain into EPISODES (q147's islands
    cumsum over the sparse trigger stream, not the raw events), each
    reported with span, trigger count, and peak burst. Two windows per
    user partition — the heavy one over raw errors is the same
    sort the per-user timeline already needs; the episode pass runs on
    triggers only (rare by construction: alerts are the tail). The
    streaming twin is q156's session window with a count gate; this
    batch form is what you run to TUNE the thresholds from history —
    the q299 advisor pattern applied to alerting."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    e = ev.select(
        "user_id", "event_id", F.col("ts").cast("long").alias("s")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-STORM_WINDOW_S, 0)
    )
    burst = e.withColumn("n_in_window", F.count(F.lit(1)).over(wr))
    wl = Window.partitionBy("user_id").orderBy("s", "event_id")
    trig = burst.filter(F.col("n_in_window") >= STORM_MIN_ERRORS).withColumn(
        "is_new",
        F.when(
            F.lag("s").over(wl).isNull()
            | (F.col("s") - F.lag("s").over(wl) > STORM_WINDOW_S),
            1,
        ).otherwise(0),
    )
    epi = trig.withColumn(
        "episode",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("s", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return epi.groupBy("user_id", "episode").agg(
        F.min("s").cast("bigint").alias("first_trigger_s"),
        F.max("s").cast("bigint").alias("last_trigger_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_triggers"),
        F.max("n_in_window").cast("bigint").alias("peak_burst"),
    )


PASS_AT_K = 3


@query(
    "q317_pass_at_k",
    oracle=f"""
    WITH trials AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS c
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id
    )
    SELECT user_id, n, c,
           CAST((n * (n-1) * (n-2) - (n-c) * (n-c-1) * (n-c-2)) * 1000000
                // (n * (n-1) * (n-2)) AS BIGINT) AS pass_at_3_ppm
    FROM trials WHERE n >= {PASS_AT_K}
    """,
)
def q317_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS@K — the unbiased estimator LLM code evals standardize on
    (Codex/HumanEval): given n sampled attempts of which c succeeded,
    pass@k = 1 − C(n−c,k)/C(n,k) — the probability a random size-k
    subset contains a success. NOT 1−(1−c/n)^k (the biased plug-in
    that overestimates at small n — the bug the Codex paper calls
    out). With k=3 literal, the binomial ratio collapses to
    falling factorials and the whole estimator is EXACT integer
    arithmetic in ppm: (n·(n−1)·(n−2) − (n−c)(n−c−1)(n−c−2))·1e6 //
    n·(n−1)·(n−2). Here "attempts" are a user's click+purchase
    trials, successes the purchases — the shape of any (task,
    attempts, successes) eval table. One grouped count per task and a
    projection; a million-task eval suite is one combiner-friendly
    shuffle. Estimator sanity property-tested against the exhaustive
    subset enumeration on small (n, c)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    trials = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    return trials.filter(F.col("n") >= PASS_AT_K).select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        F.col("c").cast("bigint").alias("c"),
        F.expr(
            "(n * (n-1) * (n-2) - (n-c) * (n-c-1) * (n-c-2)) * 1000000"
            " DIV (n * (n-1) * (n-2))"
        )
        .cast("bigint")
        .alias("pass_at_3_ppm"),
    )


SLO_ERR_NUM, SLO_ERR_DEN = 3, 20     # error-budget target: 15% error rate
BURN_PAGE_PPM = 2_000_000            # 2x budget burn in fast AND slow window
BURN_TICKET_PPM = 1_500_000          # 1.5x sustained in the slow window


@query(
    "q320_slo_burn_rate",
    oracle=f"""
    WITH hours AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    roll AS (
      SELECT h, total, errs,
             SUM(errs) OVER w6 AS e6, SUM(total) OVER w6 AS t6,
             SUM(errs) OVER w24 AS e24, SUM(total) OVER w24 AS t24
      FROM hours
      WINDOW w6 AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
             w24 AS (ORDER BY h RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h,
           CAST(errs * {SLO_ERR_DEN} * 1000000
                // (total * {SLO_ERR_NUM}) AS BIGINT) AS burn_1h_ppm,
           CAST(e6 * {SLO_ERR_DEN} * 1000000
                // (t6 * {SLO_ERR_NUM}) AS BIGINT) AS burn_6h_ppm,
           CAST(e24 * {SLO_ERR_DEN} * 1000000
                // (t24 * {SLO_ERR_NUM}) AS BIGINT) AS burn_24h_ppm,
           CASE WHEN errs * {SLO_ERR_DEN} * 1000000
                     // (total * {SLO_ERR_NUM}) >= {BURN_PAGE_PPM}
                 AND e6 * {SLO_ERR_DEN} * 1000000
                     // (t6 * {SLO_ERR_NUM}) >= {BURN_PAGE_PPM} THEN 'page'
                WHEN e24 * {SLO_ERR_DEN} * 1000000
                     // (t24 * {SLO_ERR_NUM}) >= {BURN_TICKET_PPM} THEN 'ticket'
                ELSE 'ok' END AS alert
    FROM roll
    """,
)
def q320_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-WINDOW SLO BURN-RATE alerts — the Google SRE Workbook
    policy verbatim: burn rate = observed error rate over the budget
    target (3/20), and a PAGE requires the
    fast window (1 h) AND a slow window (6 h) both over 2x — fast
    alone is noise, slow alone pages too late; a sustained 1.5x over
    24 h files a ticket. Rates are exact ppm integers
    (errs·20·1e6 DIV total·3 — cross-multiplied,
    never float-divided, so an alert fires identically on every
    engine and partitioning). Rolling sums use RANGE frames over the
    HOUR index (gap-correct: a silent hour contributes nothing but
    still ages out the frame — a ROWS frame would stretch the window
    across outages, the classic burn-rate bug). The ordered pass runs
    over the hourly PRE-aggregate — bounded by the calendar (8.8 k
    rows/year), never by traffic; per-service alerting partitions the
    same window by service key."""
    ev = load(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.expr("CAST(ts AS LONG) DIV 3600").cast("long").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    w6 = Window.orderBy("h").rangeBetween(-5, 0)
    w24 = Window.orderBy("h").rangeBetween(-23, 0)
    roll = hours.select(
        "h",
        "total",
        "errs",
        F.sum("errs").over(w6).alias("e6"),
        F.sum("total").over(w6).alias("t6"),
        F.sum("errs").over(w24).alias("e24"),
        F.sum("total").over(w24).alias("t24"),
    )
    burn1 = F.expr(f"errs * {SLO_ERR_DEN} * 1000000 DIV (total * {SLO_ERR_NUM})")
    burn6 = F.expr(f"e6 * {SLO_ERR_DEN} * 1000000 DIV (t6 * {SLO_ERR_NUM})")
    burn24 = F.expr(f"e24 * {SLO_ERR_DEN} * 1000000 DIV (t24 * {SLO_ERR_NUM})")
    return roll.select(
        "h",
        burn1.cast("bigint").alias("burn_1h_ppm"),
        burn6.cast("bigint").alias("burn_6h_ppm"),
        burn24.cast("bigint").alias("burn_24h_ppm"),
        F.when(
            (burn1 >= BURN_PAGE_PPM) & (burn6 >= BURN_PAGE_PPM), "page"
        )
        .when(burn24 >= BURN_TICKET_PPM, "ticket")
        .otherwise("ok")
        .alias("alert"),
    )


DOUBLE_CHARGE_WINDOW_S = 86400  # same-amount repeat within 24h is suspect


@query(
    "q324_double_charge_detector",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id,
             CAST(floor(value) AS BIGINT) AS dollars,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id,
           a.event_id AS first_charge_id, b.event_id AS second_charge_id,
           a.dollars,
           CAST(b.s - a.s AS BIGINT) AS gap_seconds
    FROM p a JOIN p b
      ON b.user_id = a.user_id AND b.dollars = a.dollars
     AND b.s >= a.s AND b.s - a.s <= {DOUBLE_CHARGE_WINDOW_S}
     AND (b.s > a.s OR b.event_id > a.event_id)
     AND a.event_id <> b.event_id
     AND NOT EXISTS (
       SELECT 1 FROM p c
       WHERE c.user_id = a.user_id AND c.dollars = a.dollars
         AND c.event_id <> a.event_id AND c.event_id <> b.event_id
         AND c.s >= a.s AND c.s <= b.s
         AND (c.s > a.s OR c.event_id > a.event_id)
         AND (c.s < b.s OR c.event_id < b.event_id)
     )
    """,
)
def q324_double_charge_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLE-CHARGE DETECTOR — the fintech dedup that exact-hash dedup
    (q41) misses because the rows are NOT identical: same customer,
    same amount, a second time within 24 h (retried checkout, replayed
    webhook, double-tap). Reports CONSECUTIVE suspect pairs (each
    charge pairs with its immediate same-amount successor — a triple
    yields two pairs, not three; the NOT-EXISTS in the oracle, a LEAD
    window here) with the gap for triage. Scale shape: the naive
    same-user-same-amount self-join explodes on hot (user, amount)
    keys; the window form sorts once per user partition and compares
    ADJACENT same-amount charges only — per-key cost linear, the
    q147 islands discipline applied to fraud. Total order by (s,
    event_id) makes pairing deterministic under ties. At 100 TB the
    partition key (user, dollars) spreads the sort; a same-day
    replay storm on one key is q87's salting case."""
    p = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "event_id",
        F.floor("value").cast("long").alias("dollars"),
        F.col("ts").cast("long").alias("s"),
    )
    w = Window.partitionBy("user_id", "dollars").orderBy("s", "event_id")
    nxt = p.select(
        "user_id",
        "dollars",
        F.col("event_id").alias("first_charge_id"),
        F.col("s").alias("s_a"),
        F.lead("event_id").over(w).alias("second_charge_id"),
        F.lead("s").over(w).alias("s_b"),
    )
    return nxt.filter(
        F.col("second_charge_id").isNotNull()
        & (F.col("s_b") - F.col("s_a") <= DOUBLE_CHARGE_WINDOW_S)
    ).select(
        "user_id",
        "first_charge_id",
        "second_charge_id",
        "dollars",
        (F.col("s_b") - F.col("s_a")).cast("bigint").alias("gap_seconds"),
    )


KM_CENSOR_DATE = "2024-01-25"  # last purchase on/after this = still active


@query(
    "q328_kaplan_meier",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
               AS dur,
             CASE WHEN MAX(CAST(ts AS DATE)) < DATE '{KM_CENSOR_DATE}'
                  THEN 1 ELSE 0 END AS churned
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    hist AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS cnt_all,
             CAST(SUM(churned) AS BIGINT) AS d
      FROM per_user GROUP BY dur
    ),
    risk AS (
      SELECT dur, d,
             CAST((SELECT COUNT(*) FROM per_user) AS BIGINT)
               - COALESCE(SUM(cnt_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM hist
    ),
    steps AS (SELECT dur, d, n_risk FROM risk WHERE d > 0),
    folded AS (
      SELECT s.dur, s.d, s.n_risk,
             list(CAST(p.n_risk - p.d AS DOUBLE) / p.n_risk
                  ORDER BY p.dur) AS ratios
      FROM steps s JOIN steps p ON p.dur <= s.dur
      GROUP BY s.dur, s.d, s.n_risk
    )
    SELECT dur AS t_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_churned,
           CAST(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), ratios),
                (a, b) -> a * b) AS DOUBLE) AS survival
    FROM folded
    """,
)
def q328_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve — the censoring-correct retention
    estimator (q262 labels churn; this estimates the CURVE): a user's
    lifetime is first-to-last activity, users still active near the
    window edge are CENSORED (they exit the risk set without counting
    as deaths — naive retention curves silently call them churned,
    biasing survival down; the whole reason KM exists). S(t) =
    Π_{{t'<=t}} (n_t' − d_t')/n_t' over event times with deaths. The
    float product is the parity hazard: an unordered product aggregate
    would round differently per engine, so both sides materialize the
    per-step ratios as an ORDERED list (sort_array of structs here,
    list(... ORDER BY) there) and FOLD left-to-right — the q323
    fixed-order rule extended from sums to products. Risk sets come
    from the duration histogram's cumulative complement (bounded by
    the observation window in days), so the curve costs one per-user
    rollup + calendar-sized passes; the step-pair join is steps²,
    still calendar-bounded."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
        .cast("long")
        .alias("dur"),
        F.when(
            F.max(F.to_date("ts")) < F.lit(KM_CENSOR_DATE).cast("date"), 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    n_total = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    hist = per_user.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.sum("churned").cast("long").alias("d"),
    )
    wc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        hist.crossJoin(F.broadcast(n_total))
        .withColumn(
            "n_risk",
            F.col("n_tot")
            - F.coalesce(F.sum("cnt_all").over(wc), F.lit(0)),
        )
        .filter(F.col("d") > 0)
        .select("dur", "d", "n_risk")
    )
    s = risk.alias("s")
    p = risk.alias("p")
    folded = (
        s.join(p, F.col("p.dur") <= F.col("s.dur"))
        .groupBy(
            F.col("s.dur").alias("t_days"),
            F.col("s.d").alias("d_churned"),
            F.col("s.n_risk").alias("n_at_risk"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("p.dur").alias("tp"),
                        (
                            (F.col("p.n_risk") - F.col("p.d")).cast("double")
                            / F.col("p.n_risk")
                        ).alias("ratio"),
                    )
                )
            ).alias("ratios")
        )
    )
    surv = F.aggregate(
        F.transform(F.col("ratios"), lambda x: x["ratio"]),
        F.lit(1.0).cast("double"),
        lambda acc, x: acc * x,
    )
    return folded.select(
        F.col("t_days").cast("bigint"),
        F.col("n_at_risk").cast("bigint"),
        F.col("d_churned").cast("bigint"),
        surv.alias("survival"),
    )


LRU_CACHE_K = 4
LRU_ITEM_DIV = 20  # item id = floor(value / 20): ~17 distinct items


@query(
    "q330_lru_stack_distance",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(floor(value / {LRU_ITEM_DIV}) AS BIGINT) AS item,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                         event_id) AS ord
      FROM events
    ),
    withprev AS (
      SELECT user_id, event_id, item, ord,
             LAG(ord) OVER (PARTITION BY user_id, item ORDER BY ord) AS p_ord
      FROM ev
    ),
    scored AS (
      SELECT w.user_id, w.ord, w.p_ord,
             CASE WHEN w.p_ord IS NULL THEN NULL
                  ELSE (SELECT COUNT(DISTINCT e2.item) FROM ev e2
                        WHERE e2.user_id = w.user_id
                          AND e2.ord > w.p_ord AND e2.ord < w.ord
                          AND e2.item <> w.item) END AS others_between
      FROM withprev w
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_accesses,
           CAST(SUM(CASE WHEN p_ord IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reuses,
           CAST(SUM(CASE WHEN others_between <= {LRU_CACHE_K} - 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(SUM(CASE WHEN others_between <= {LRU_CACHE_K} - 1
                         THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS hit_ppm
    FROM scored GROUP BY user_id
    """,
)
def q330_lru_stack_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LRU CACHE SIMULATION from an access trace — the working-set
    analysis that sizes caches before buying RAM: replay each user's
    event stream against an LRU of capacity 4 and report
    hit rates. The Spark side runs a REAL LRU (an ordered-dict state
    machine in applyInPandas — §2.9's sanctioned grouped-map pattern,
    one partition-local pass per user);
    the oracle computes MATTSON STACK DISTANCES declaratively (an
    access hits a size-k LRU iff fewer than k distinct other items
    appeared since its previous access). The two formulations are
    independent code paths whose equality IS Mattson's 1970 inclusion
    theorem — the strongest oracle shape in the repo: a theorem, not a
    re-implementation. Per-user streams are the parallel unit; state
    is O(k); and one replay prices EVERY cache size <= k at once via
    the distance histogram (the working-set curve — the reason stack
    distance beats naive simulation at 100 TB: simulate once, answer
    all capacities)."""
    import pandas as pd

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(f"CAST(floor(value / {LRU_ITEM_DIV}) AS BIGINT)").alias("item"),
        F.col("ts").cast("long").alias("s"),
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["s", "event_id"])
        cache: list[int] = []  # front = most recent
        hits = reuses = 0
        seen: set[int] = set()
        for item in pdf["item"]:
            if item in seen:
                reuses += 1
            if item in cache:
                hits += 1
                cache.remove(item)
            elif len(cache) == LRU_CACHE_K:
                cache.pop()
            cache.insert(0, int(item))
            seen.add(item)
        n = len(pdf)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_accesses": [n],
                "n_reuses": [reuses],
                "hits": [hits],
                "hit_ppm": [hits * 1_000_000 // n],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        replay,
        schema=(
            "user_id long, n_accesses long, n_reuses long, "
            "hits long, hit_ppm long"
        ),
    )


@query(
    "q336_cohort_ltv",
    oracle="""
    WITH firstw AS (
      SELECT user_id,
             MIN(CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
                 AS BIGINT)) AS cohort_w
      FROM events GROUP BY user_id
    ),
    cohort_size AS (
      SELECT cohort_w, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM firstw GROUP BY cohort_w
    ),
    rev AS (
      SELECT f.cohort_w,
             CAST(floor((CAST(e.ts AS DATE) - DATE '2024-01-01') / 7)
               AS BIGINT) - f.cohort_w AS age_w,
             CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS week_cents
      FROM events e JOIN firstw f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_w, age_w, week_cents,
             SUM(week_cents) OVER (PARTITION BY cohort_w ORDER BY age_w
                                   ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM rev
    )
    SELECT c.cohort_w, c.age_w, s.n_users,
           CAST(c.week_cents AS BIGINT) AS week_cents,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(c.cum_cents // s.n_users AS BIGINT) AS ltv_per_user_cents
    FROM cum c JOIN cohort_size s ON s.cohort_w = c.cohort_w
    """,
)
def q336_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV MATRIX — the finance twin of q90's retention triangle:
    users cohorted by first-seen week, purchase revenue accumulated by
    cohort AGE, reported as cumulative lifetime value per user — the
    curve whose plateau is what a CAC payback model is allowed to
    spend. Denominator discipline is the point: LTV divides by the
    FULL cohort size (including users who never bought — survivors-
    only LTV flatters every cohort, the classic SaaS-board bug), so
    cohort sizes come from a separate first-touch aggregate and join
    back. All integer cents with one floor division per cell; the
    cumulative window runs over cohort x age cells (calendar-bounded,
    q32's spine rule). One shuffle keys the first-touch lookup, one
    the weekly rollup."""
    ev = load(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    firstw = ev.groupBy("user_id").agg(F.min(week).alias("cohort_w"))
    cohort_size = firstw.groupBy("cohort_w").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firstw, "user_id")
        .groupBy(
            "cohort_w", (week - F.col("cohort_w")).alias("age_w")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("week_cents")
        )
    )
    wcum = (
        Window.partitionBy("cohort_w")
        .orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("week_cents").over(wcum))
    return cum.join(F.broadcast(cohort_size), "cohort_w").select(
        "cohort_w",
        "age_w",
        "n_users",
        F.col("week_cents").cast("bigint"),
        F.col("cum_cents").cast("bigint"),
        F.expr("cum_cents DIV n_users").cast("bigint").alias("ltv_per_user_cents"),
    )


@query(
    "q338_tier_migration",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS p1,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS p2
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    tiers AS (
      SELECT user_id,
             CASE WHEN p1 = 0 THEN -1 ELSE
               (ROW_NUMBER() OVER (PARTITION BY (p1 > 0)
                                   ORDER BY p1, user_id) - 1) * 4
               // SUM(CASE WHEN p1 > 0 THEN 1 ELSE 0 END) OVER ()
             END AS tier1,
             CASE WHEN p2 = 0 THEN -1 ELSE
               (ROW_NUMBER() OVER (PARTITION BY (p2 > 0)
                                   ORDER BY p2, user_id) - 1) * 4
               // SUM(CASE WHEN p2 > 0 THEN 1 ELSE 0 END) OVER ()
             END AS tier2
      FROM spend
    )
    SELECT CAST(tier1 AS BIGINT) AS tier1, CAST(tier2 AS BIGINT) AS tier2,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM tiers GROUP BY tier1, tier2
    """,
)
def q338_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEND-TIER MIGRATION MATRIX — the CRM question q160's event-level
    Markov chain doesn't answer: how do CUSTOMERS move between value
    quartiles from one period to the next (upgrades, downgrades,
    lapses into tier −1)? Tiers are exact rank arithmetic —
    (rank−1)·4 DIV n over spenders only, q171's decile rule at
    quartile granularity, user-id tiebroken — never NTILE, whose
    remainder distribution is engine-defined. Zero-spend users form
    their own −1 tier rather than polluting quartile boundaries (the
    partition-by-(p>0) trick keeps ranks dense among actual
    spenders). The migration rollup is the retention/churn/win-back
    dashboard in one 5x5 matrix; the diagonal is stability, below it
    is the churn early-warning.

    Scale (r11, global-window audit follow-through): the two rank
    windows previously partitioned by the BOOLEAN (p > 0), funneling
    every spender through one reducer (the entity-rank hazard class),
    with a second global window for n_active. Both replaced: each
    period's spender rank comes from operators.rowids.stable_row_ids
    (range partition + per-range numbering + broadcast prefix-offset
    spine — no SinglePartition exchange), n_active from a value-pure
    1-row count broadcast back, and the tier is the same exact
    (rank·4) DIV n arithmetic. Zero-spend users never enter the rank
    path at all — they rejoin as tier −1 via a left join on the
    per-user spine. The per-user rollup is localCheckpointed (q408
    pattern) so the five consumers (two rank legs, two count legs,
    the spine) scan the fact table once."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    cutoff = F.lit("2024-01-16").cast("date")
    spend = ev.groupBy("user_id").agg(
        F.sum(F.when(F.to_date("ts") < cutoff, cents).otherwise(0))
        .cast("long")
        .alias("p1"),
        F.sum(F.when(F.to_date("ts") >= cutoff, cents).otherwise(0))
        .cast("long")
        .alias("p2"),
    ).localCheckpoint(eager=False)

    def tiered(col: str, out: str) -> DataFrame:
        act = spend.filter(F.col(col) > 0).select("user_id", col)
        ids = stable_row_ids(act, [F.col(col), F.col("user_id")], id_col="__rid")
        n = act.agg(F.count(F.lit(1)).cast("long").alias("__n"))
        # (rid·4) DIV n — exact below 2^53 (the rowids.py idiom); rid
        # is already 0-based so this is the oracle's (rank−1)*4 // n
        return ids.crossJoin(F.broadcast(n)).select(
            "user_id",
            (
                (F.col("__rid") * 4 - (F.col("__rid") * 4) % F.col("__n"))
                / F.col("__n")
            )
            .cast("long")
            .alias(out),
        )

    tiers = (
        spend.select("user_id")
        .join(tiered("p1", "tier1"), "user_id", "left")
        .join(tiered("p2", "tier2"), "user_id", "left")
        .select(
            F.coalesce(F.col("tier1"), F.lit(-1)).cast("long").alias("tier1"),
            F.coalesce(F.col("tier2"), F.lit(-1)).cast("long").alias("tier2"),
        )
    )
    return tiers.groupBy("tier1", "tier2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@query(
    "q343_funnel_significance",
    oracle="""
    WITH steps AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s_view,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s_buy
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    arms AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || ':exp1'), 1, 8) AS BIGINT) % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             s_view, s_click, s_buy
      FROM steps
    ),
    cells AS (
      SELECT step, arm, n, conv FROM (
        SELECT 'view_to_click' AS step, arm,
               CAST(SUM(s_view) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN s_view = 1 AND s_click = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM arms GROUP BY arm
        UNION ALL
        SELECT 'click_to_buy', arm,
               CAST(SUM(s_click) AS BIGINT),
               CAST(SUM(CASE WHEN s_click = 1 AND s_buy = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM arms GROUP BY arm
      )
    ),
    piv AS (
      SELECT step,
             MAX(CASE WHEN arm = 'treatment' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'treatment' THEN conv END) AS c1,
             MAX(CASE WHEN arm = 'control' THEN n END) AS n0,
             MAX(CASE WHEN arm = 'control' THEN conv END) AS c0
      FROM cells GROUP BY step
    )
    SELECT step,
           CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
           CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0 AS rate_diff,
           (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c1 + c0 AS DOUBLE) / (n1 + n0))
                    * (1 - CAST(c1 + c0 AS DOUBLE) / (n1 + n0))
                    * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n0))
             AS z_stat
    FROM piv
    """,
)
def q343_funnel_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNNEL-STEP SIGNIFICANCE — the two-proportion z-test applied
    where experiment dashboards actually need it: per funnel edge
    (view→click, click→buy) at USER-DAY granularity (a day with a view
    that also saw a click converts the edge), did the treatment arm
    convert differently?
    Uses the POOLED-proportion standard error (the correct null for a
    difference test — per-arm variances flatter small effects), with
    the conditioning set re-based per step: the click→buy denominator
    is CLICKERS, not everyone, so a treatment that inflates clicks
    with junk traffic shows up as a click→buy DROP — the funnel
    decomposition q158's global chi-square can't localize. Counts are
    exact integer cells pivoted per step (q323's rule); the z is one
    fixed expression with the IEEE-exempt sqrt. One per-user rollup,
    a 4-cell aggregate per step, output two rows."""
    ev = load(spark, sf_dir, "events")
    steps = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("s_view"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("s_click"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("s_buy"),
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
    arms = steps.select(arm.alias("arm"), "s_view", "s_click", "s_buy")
    v2c = arms.groupBy("arm").agg(
        F.sum("s_view").cast("long").alias("n"),
        F.sum(F.when((F.col("s_view") == 1) & (F.col("s_click") == 1), 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    ).withColumn("step", F.lit("view_to_click"))
    c2b = arms.groupBy("arm").agg(
        F.sum("s_click").cast("long").alias("n"),
        F.sum(F.when((F.col("s_click") == 1) & (F.col("s_buy") == 1), 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    ).withColumn("step", F.lit("click_to_buy"))
    cells = v2c.unionByName(c2b)
    piv = cells.groupBy("step").agg(
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "treatment", F.col("conv"))).alias("c1"),
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == "control", F.col("conv"))).alias("c0"),
    )
    return piv.selectExpr(
        "step",
        "CAST(n1 AS BIGINT) AS n1",
        "CAST(c1 AS BIGINT) AS c1",
        "CAST(n0 AS BIGINT) AS n0",
        "CAST(c0 AS BIGINT) AS c0",
        "CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0 AS rate_diff",
        "(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)"
        " / sqrt((CAST(c1 + c0 AS DOUBLE) / (n1 + n0))"
        " * (1 - CAST(c1 + c0 AS DOUBLE) / (n1 + n0))"
        " * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n0)) AS z_stat",
    )


AL_BATCH = 20          # labeling budget per round
AL_PER_TYPE_CAP = 5    # diversity cap per event type


@query(
    "q358_active_learning_batch",
    oracle=f"""
    WITH scored AS (
      SELECT event_id, event_type,
             CAST(floor(value / 20) AS BIGINT) AS b,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    bins AS (
      SELECT b, CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS rate_ppm
      FROM scored GROUP BY b
    ),
    uncertain AS (
      SELECT s.event_id, s.event_type, s.b, bn.rate_ppm,
             abs(2 * bn.rate_ppm - 1000000) AS uncertainty_ppm
      FROM scored s JOIN bins bn ON bn.b = s.b
    ),
    capped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY uncertainty_ppm, event_id) AS type_rnk
      FROM uncertain
    )
    SELECT event_id, event_type, b AS bin, rate_ppm, uncertainty_ppm
    FROM capped WHERE type_rnk <= {AL_PER_TYPE_CAP}
    ORDER BY uncertainty_ppm, event_id LIMIT {AL_BATCH}
    """,
)
def q358_active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVE-LEARNING batch selection — the labeling-ops query that
    stretches an annotation budget: rank the pool by model
    UNCERTAINTY (|2p − 1| off the q342 bin-rate model, in exact ppm)
    and take the 20 most uncertain — but with a DIVERSITY cap
    of 5 per event type first, because uncertainty
    sampling alone floods the batch from whichever slice the model is
    globally confused about and starves the rest (the classic AL
    failure mode; the cap is the cheap batch-mode diversity fix
    before you pay for a k-DPP). Deterministic end to end: ppm
    uncertainty, event-id tiebreaks, per-type rank windows, then a
    bounded TakeOrdered — no global window. Re-running after labels
    arrive shifts the bin rates and the batch moves on: this query IS
    the loop body of pool-based AL at warehouse scale."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        "event_id",
        "event_type",
        F.expr("CAST(floor(value / 20) AS BIGINT)").alias("b"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("b").agg(
        F.expr("SUM(y) * 1000000 DIV COUNT(*)").cast("long").alias("rate_ppm")
    )
    uncertain = scored.join(F.broadcast(bins), "b").select(
        "event_id",
        "event_type",
        F.col("b").alias("bin"),
        "rate_ppm",
        F.abs(2 * F.col("rate_ppm") - 1_000_000).alias("uncertainty_ppm"),
    )
    wt = Window.partitionBy("event_type").orderBy("uncertainty_ppm", "event_id")
    capped = uncertain.withColumn("type_rnk", F.row_number().over(wt)).filter(
        F.col("type_rnk") <= AL_PER_TYPE_CAP
    )
    return (
        capped.orderBy("uncertainty_ppm", "event_id")
        .limit(AL_BATCH)
        .select("event_id", "event_type", "bin", "rate_ppm", "uncertainty_ppm")
    )


@query(
    "q359_spike_attribution",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             event_type,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    totals AS (
      SELECT d, CAST(SUM(cents) AS BIGINT) AS total FROM daily GROUP BY d
    ),
    spike AS (
      SELECT d, total FROM totals ORDER BY total DESC, d LIMIT 1
    ),
    baseline AS (
      SELECT dd.event_type,
             CAST(SUM(dd.cents) AS BIGINT) AS base_sum,
             CAST(COUNT(DISTINCT dd.d) AS BIGINT) AS base_days
      FROM daily dd, spike WHERE dd.d <> spike.d
      GROUP BY dd.event_type
    ),
    spike_rows AS (
      SELECT dd.event_type, dd.cents AS spike_cents
      FROM daily dd, spike WHERE dd.d = spike.d
    ),
    tot AS (
      SELECT CAST(SUM(s.spike_cents) AS BIGINT) AS spike_total,
             CAST(SUM(b.base_sum) AS BIGINT) AS base_sum_all,
             CAST(MAX(b.base_days) AS BIGINT) AS base_days
      FROM spike_rows s JOIN baseline b ON b.event_type = s.event_type
    )
    SELECT s.event_type,
           (SELECT d FROM spike) AS spike_day,
           s.spike_cents,
           CAST(b.base_sum AS DOUBLE) / b.base_days AS baseline_mean_cents,
           s.spike_cents - CAST(b.base_sum AS DOUBLE) / b.base_days
             AS contribution_cents,
           (s.spike_cents - CAST(b.base_sum AS DOUBLE) / b.base_days)
             / (t.spike_total - CAST(t.base_sum_all AS DOUBLE) / t.base_days)
             AS explained_share
    FROM spike_rows s
    JOIN baseline b ON b.event_type = s.event_type, tot t
    """,
)
def q359_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPIKE ATTRIBUTION — the root-cause question every on-call dashboard
    punts on: revenue spiked on day D; WHICH stream explains it? Each
    event type's contribution is its spike-day value minus its own
    baseline mean (all other days), and explained_share normalizes by
    the total anomaly — Adtributor's explanatory-power measure in its
    exact form. Shares sum to 1 BY CONSTRUCTION (the decomposition is
    additive — property-tested), and negative shares are informative:
    a stream that moved AGAINST the spike. The spike day is a
    deterministic argmax (total, then day tiebreak) via TakeOrdered-1,
    never a driver-side max; baselines are one conditional aggregate.
    Generalizing to multi-dimensional root cause (type x nation x
    segment) is the same query over a cube — the surprise ranking
    stays a per-cell projection."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "event_type",
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # (days x types)-row rollup read by the spike argmax and both
    # spike/baseline filters — checkpoint so the fact scan runs once
    daily = daily.localCheckpoint(eager=False)
    totals = daily.groupBy("d").agg(F.sum("cents").cast("long").alias("total"))
    spike = totals.orderBy(F.col("total").desc(), "d").limit(1).select(
        F.col("d").alias("spike_day")
    )
    withspike = daily.crossJoin(F.broadcast(spike))
    baseline = (
        withspike.filter(F.col("d") != F.col("spike_day"))
        .groupBy("event_type")
        .agg(
            F.sum("cents").cast("long").alias("base_sum"),
            F.countDistinct("d").cast("long").alias("base_days"),
        )
    )
    spike_rows = withspike.filter(F.col("d") == F.col("spike_day")).select(
        "event_type", "spike_day", F.col("cents").alias("spike_cents")
    )
    j = spike_rows.join(baseline, "event_type")
    tot = j.agg(
        F.sum("spike_cents").cast("long").alias("spike_total"),
        F.sum("base_sum").cast("long").alias("base_sum_all"),
        F.max("base_days").cast("long").alias("bdays"),
    )
    return j.crossJoin(F.broadcast(tot)).selectExpr(
        "event_type",
        "spike_day",
        "spike_cents",
        "CAST(base_sum AS DOUBLE) / base_days AS baseline_mean_cents",
        "spike_cents - CAST(base_sum AS DOUBLE) / base_days"
        " AS contribution_cents",
        "(spike_cents - CAST(base_sum AS DOUBLE) / base_days)"
        " / (spike_total - CAST(base_sum_all AS DOUBLE) / bdays)"
        " AS explained_share",
    )


SH_SURVIVORS = (5, 3, 2, 1)  # arms alive entering each weekly round


@query(
    "q366_successive_halving",
    oracle=f"""
    WITH weekly AS (
      SELECT event_type,
             CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
               AS BIGINT) AS wk,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-29'
      GROUP BY 1, 2
    ),
    r0 AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, event_type) AS rnk
      FROM weekly WHERE wk = 0
    ),
    r1 AS (
      SELECT w.event_type, w.cents,
             ROW_NUMBER() OVER (ORDER BY w.cents DESC, w.event_type) AS rnk
      FROM weekly w JOIN r0 ON r0.event_type = w.event_type
      WHERE w.wk = 1 AND r0.rnk <= {SH_SURVIVORS[1]}
    ),
    r2 AS (
      SELECT w.event_type, w.cents,
             ROW_NUMBER() OVER (ORDER BY w.cents DESC, w.event_type) AS rnk
      FROM weekly w JOIN r1 ON r1.event_type = w.event_type
      WHERE w.wk = 2 AND r1.rnk <= {SH_SURVIVORS[2]}
    ),
    r3 AS (
      SELECT w.event_type, w.cents,
             ROW_NUMBER() OVER (ORDER BY w.cents DESC, w.event_type) AS rnk
      FROM weekly w JOIN r2 ON r2.event_type = w.event_type
      WHERE w.wk = 3 AND r2.rnk <= {SH_SURVIVORS[3]}
    )
    SELECT 0 AS round, event_type, cents, CAST(rnk AS BIGINT) AS rnk,
           rnk <= {SH_SURVIVORS[1]} AS advances FROM r0
    UNION ALL
    SELECT 1, event_type, cents, CAST(rnk AS BIGINT),
           rnk <= {SH_SURVIVORS[2]} FROM r1
    UNION ALL
    SELECT 2, event_type, cents, CAST(rnk AS BIGINT),
           rnk <= {SH_SURVIVORS[3]} FROM r2
    UNION ALL
    SELECT 3, event_type, cents, CAST(rnk AS BIGINT), rnk <= 1 FROM r3
    """,
)
def q366_successive_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUCCESSIVE HALVING — the budget-efficient selection schedule
    under Hyperband and modern AutoML tuners, replayed offline over
    logged data: every "arm" (stream) is measured on week 0, only the
    top {SH_SURVIVORS[1]} earn week 1's budget, the top
    {SH_SURVIVORS[2]} of THOSE earn week 2's, down to a single
    champion — exploration cost concentrates on survivors
    geometrically instead of splitting evenly (q278's bandit is the
    anytime version; this is the fixed-budget tournament). Each round
    is a rank window over the SURVIVOR subset only — the join chain
    encodes the elimination, so a dropped arm's later weeks are never
    even read (the budget saving is visible in the plan as pruned
    rows). All integer cents with total-order tiebreaks; the audit
    trail (per-round rank + advancement flag) is the output, because
    the pathology worth catching is a week-0 fluke eliminating the
    eventual best — the property test measures exactly that regret
    against full-information hindsight."""
    ev = load(spark, sf_dir, "events").filter(
        F.to_date("ts") < F.lit("2024-01-29").cast("date")
    )
    weekly = ev.groupBy(
        "event_type",
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
        )
        .cast("long")
        .alias("wk"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # ~(arms x weeks)-row rollup consumed by every round's filter AND
    # by each round's survivor chain — ten fact scans without a
    # checkpoint (r11 fact-rescan audit); one with it
    weekly = weekly.localCheckpoint(eager=False)
    out = []
    survivors = None
    for rnd in range(4):
        wkrows = weekly.filter(F.col("wk") == rnd).select("event_type", "cents")
        if survivors is not None:
            wkrows = wkrows.join(survivors, "event_type")
        w = Window.orderBy(F.col("cents").desc(), "event_type")
        ranked = wkrows.withColumn("rnk", F.row_number().over(w).cast("long"))
        keep = SH_SURVIVORS[rnd + 1] if rnd + 1 < len(SH_SURVIVORS) else 1
        out.append(
            ranked.select(
                F.lit(rnd).alias("round"),
                "event_type",
                "cents",
                "rnk",
                (F.col("rnk") <= keep).alias("advances"),
            )
        )
        survivors = ranked.filter(F.col("rnk") <= keep).select("event_type")
    res = out[0]
    for fr in out[1:]:
        res = res.unionByName(fr)
    return res


RMST_HORIZON_DAYS = 24


@query(
    "q373_rmst",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
               AS dur,
             CASE WHEN MAX(CAST(ts AS DATE)) < DATE '{KM_CENSOR_DATE}'
                  THEN 1 ELSE 0 END AS churned
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    hist AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS cnt_all,
             CAST(SUM(churned) AS BIGINT) AS d
      FROM per_user GROUP BY dur
    ),
    risk AS (
      SELECT dur, d,
             CAST((SELECT COUNT(*) FROM per_user) AS BIGINT)
               - COALESCE(SUM(cnt_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM hist
    ),
    steps AS (SELECT dur, d, n_risk FROM risk WHERE d > 0),
    folded AS (
      SELECT s.dur,
             list(CAST(p.n_risk - p.d AS DOUBLE) / p.n_risk
                  ORDER BY p.dur) AS ratios
      FROM steps s JOIN steps p ON p.dur <= s.dur
      GROUP BY s.dur
    ),
    surv AS (
      SELECT dur,
             CAST(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), ratios),
                  (a, b) -> a * b) AS DOUBLE) AS s_t
      FROM folded WHERE dur < {RMST_HORIZON_DAYS}
    ),
    seg AS (
      SELECT dur, s_t,
             COALESCE(LEAD(dur) OVER (ORDER BY dur), {RMST_HORIZON_DAYS})
               AS next_t
      FROM surv
    ),
    head AS (
      SELECT COALESCE(MIN(dur), {RMST_HORIZON_DAYS}) AS t1 FROM surv
    )
    SELECT CAST({RMST_HORIZON_DAYS} AS BIGINT) AS horizon_days,
           CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_steps,
           CAST(head.t1 AS DOUBLE)
             + COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(seg.s_t * (seg.next_t - seg.dur) ORDER BY seg.dur)),
                 (a, b) -> a + b), 0)
             AS rmst_days
    FROM head LEFT JOIN seg ON TRUE
    GROUP BY head.t1
    """,
)
def q373_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTRICTED MEAN SURVIVAL TIME — the area under q328's KM curve up
    to a horizon τ=24: "expected active days per user
    in their first τ" — the survival summary regulators and A/B
    readouts prefer over medians when curves cross or the median
    isn't reached (censoring-aware expected lifetime, directly in
    day units a finance model can multiply by daily revenue). The
    integral of a step function is a sum of rectangles: S=1 from 0 to
    the first death time, then S(t_k)·(t_{k+1}−t_k) per step, last
    rectangle truncated at τ — one LEAD over the step table plus the
    head segment. Survival values replay q328's ordered-fold product
    (float order fixed on both engines); rectangle widths are exact
    integer day gaps. Comparing arms = running this per treatment
    group and differencing — the RMST-difference test that's
    replacing logrank in pragmatic trials."""
    # bounded step table (distinct death days) read by BOTH the segment
    # fold and the head aggregate — without a checkpoint the whole q328
    # KM pipeline (and its fact scans) re-executes per consumer (r11
    # fact-rescan audit: 8 scans -> 1)
    steps = (
        q328_kaplan_meier(spark, sf_dir)
        .filter(F.col("t_days") < RMST_HORIZON_DAYS)
        .localCheckpoint(eager=False)
    )
    wl = Window.orderBy("t_days")
    seg = steps.select(
        "t_days",
        "survival",
        F.coalesce(
            F.lead("t_days").over(wl), F.lit(RMST_HORIZON_DAYS).cast("long")
        ).alias("next_t"),
    )
    head = steps.agg(
        F.coalesce(F.min("t_days"), F.lit(RMST_HORIZON_DAYS).cast("long")).alias(
            "t1"
        ),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
    )
    # float rectangle areas fold in t order (the q328 rule: float sums
    # over rows must have a fixed order to hash-match across engines)
    area = seg.agg(
        F.coalesce(
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("t_days").alias("t"),
                                (
                                    F.col("survival")
                                    * (F.col("next_t") - F.col("t_days"))
                                ).alias("a"),
                            )
                        )
                    ),
                    lambda x: x["a"],
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ),
            F.lit(0.0),
        ).alias("rect_area")
    )
    return head.crossJoin(F.broadcast(area)).select(
        F.lit(RMST_HORIZON_DAYS).cast("bigint").alias("horizon_days"),
        F.col("n_steps").cast("bigint").alias("n_steps"),
        (F.col("t1").cast("double") + F.col("rect_area")).alias("rmst_days"),
    )


STATE_TTLS_DAYS = (1, 7, 30)
STATE_BYTES_PER_KEY = 64
STATE_STORE_BUDGET = 1 << 30  # per-executor comfort line, bytes


@query(
    "q377_state_size_advisor",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    ttls AS (SELECT UNNEST(ARRAY{list(STATE_TTLS_DAYS)}) AS ttl),
    per_day AS (
      SELECT t.ttl, dd.d,
             CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_keys
      FROM ttls t, days dd
      JOIN ud u ON u.d > dd.d - t.ttl AND u.d <= dd.d
      GROUP BY t.ttl, dd.d
    )
    SELECT ttl AS ttl_days,
           CAST(MAX(active_keys) AS BIGINT) AS peak_keys,
           CAST(MAX(active_keys) * {STATE_BYTES_PER_KEY} AS BIGINT)
             AS est_state_bytes,
           MAX(active_keys) * {STATE_BYTES_PER_KEY} < {STATE_STORE_BUDGET}
             AS fits_budget
    FROM per_day GROUP BY ttl
    """,
)
def q377_state_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-SIZE ADVISOR — q299 picks the watermark DELAY; this prices
    its MEMORY: a stateful streaming operator (q95's dedup, q156's
    sessions) holds one state row per key seen within the TTL, so the
    store's peak footprint is the max over time of distinct keys in
    any trailing TTL window x bytes-per-key. Computed exactly per
    candidate TTL from the (user, day) activity table — the windowed
    COUNT DISTINCT the streaming runtime pays implicitly, paid here
    once, offline, before an OOM teaches the same number in
    production. At warehouse scale the window-join form shown here
    gives way to q128/q202's first-seen cumsum trick (distinct-over-
    window without the join); the advisory shape — TTL grid, peak,
    verdict against a literal budget — is the product. The property
    test checks monotonicity (longer TTL never shrinks state) and
    that TTL=1 equals the busiest single day."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).distinct()
    days = ud.select("d").distinct()
    ttls = spark.createDataFrame([(t,) for t in STATE_TTLS_DAYS], "ttl long")
    dd = days.select(F.col("d").alias("win_end"))
    per_day = (
        ttls.crossJoin(dd)
        .join(
            ud,
            (F.col("d") > F.col("win_end") - F.col("ttl"))
            & (F.col("d") <= F.col("win_end")),
        )
        .groupBy("ttl", "win_end")
        .agg(F.countDistinct("user_id").cast("long").alias("active_keys"))
    )
    return per_day.groupBy(F.col("ttl").alias("ttl_days")).agg(
        F.max("active_keys").cast("bigint").alias("peak_keys"),
        (F.max("active_keys") * STATE_BYTES_PER_KEY)
        .cast("bigint")
        .alias("est_state_bytes"),
        (F.max("active_keys") * STATE_BYTES_PER_KEY < STATE_STORE_BUDGET).alias(
            "fits_budget"
        ),
    )


APDEX_T_CENTS = 5000  # satisfied threshold T; tolerating up to 4T


@query(
    "q389_apdex",
    oracle=f"""
    WITH lat AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN v <= {APDEX_T_CENTS} THEN 1 ELSE 0 END)
             AS BIGINT) AS satisfied,
           CAST(SUM(CASE WHEN v > {APDEX_T_CENTS}
                          AND v <= 4 * {APDEX_T_CENTS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
           CAST((2 * SUM(CASE WHEN v <= {APDEX_T_CENTS} THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN v > {APDEX_T_CENTS}
                             AND v <= 4 * {APDEX_T_CENTS}
                            THEN 1 ELSE 0 END)) * 1000000
                // (2 * COUNT(*)) AS BIGINT) AS apdex_ppm
    FROM lat GROUP BY event_type
    """,
)
def q389_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APDEX — the industry's user-satisfaction compression of a latency
    distribution: (satisfied + tolerating/2)/total with satisfied <= T
    and tolerating <= 4T (the Apdex Alliance spec's fixed 4x ratio),
    here over per-event values as the latency stand-in. The /2 is the
    only fraction and it clears by doubling (the house x2 rule), so
    the score is exact ppm floor division — an SLO page can compare
    two services' Apdex without a float in sight. Apdex exists
    because percentiles (q107/q208) answer "how bad is the tail"
    while product owners ask "what share of users were HAPPY" — both
    belong on the dashboard, which is why this joins the q320 burn-
    rate family. One conditional-sum scan; per-endpoint-per-minute
    Apdex is the same aggregate under more keys."""
    ev = load(spark, sf_dir, "events")
    lat = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    T = APDEX_T_CENTS
    sat = F.sum(F.when(F.col("v") <= T, 1).otherwise(0))
    tol = F.sum(
        F.when((F.col("v") > T) & (F.col("v") <= 4 * T), 1).otherwise(0)
    )
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        sat.cast("bigint").alias("satisfied"),
        tol.cast("bigint").alias("tolerating"),
        F.expr(
            f"(2 * SUM(CASE WHEN v <= {T} THEN 1 ELSE 0 END)"
            f" + SUM(CASE WHEN v > {T} AND v <= {4 * T} THEN 1 ELSE 0 END))"
            f" * 1000000 DIV (2 * COUNT(*))"
        )
        .cast("bigint")
        .alias("apdex_ppm"),
    )


SLA_TARGET_PPM = 850_000  # contracted non-error share
SLA_CREDIT_LADDER = ((800_000, 250_000), (825_000, 100_000))  # (below, credit)


@query(
    "q399_sla_credits",
    oracle=f"""
    WITH weekly AS (
      SELECT CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
               AS BIGINT) AS wk,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS ok
      FROM events GROUP BY 1
    )
    SELECT wk,
           total, ok,
           CAST(ok * 1000000 // total AS BIGINT) AS attainment_ppm,
           ok * 1000000 // total >= {SLA_TARGET_PPM} AS met_sla,
           CAST(CASE
             WHEN ok * 1000000 // total < {SLA_CREDIT_LADDER[0][0]}
               THEN {SLA_CREDIT_LADDER[0][1]}
             WHEN ok * 1000000 // total < {SLA_CREDIT_LADDER[1][0]}
               THEN {SLA_CREDIT_LADDER[1][1]}
             ELSE 0 END AS BIGINT) AS credit_ppm
    FROM weekly
    """,
)
def q399_sla_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA CREDIT CALCULATION — the contract arithmetic downstream of
    q320's alerts: per billing week, attainment (non-error share) in
    exact ppm against the contracted 850000, and the service
    credit from the tiered ladder (deeper miss, bigger refund — the
    standard cloud-SLA structure). Everything is integer floor
    division, because this number moves MONEY and a float rate that
    rounds 849999.5 ppm up to "met" is a dispute: the same
    cross-multiplied discipline as q320, but here the output is an
    invoice line, not a page. One weekly conditional rollup; the
    ladder is literal CASE rungs, renegotiation is a constant swap.
    Property-tested: credit is monotone in the miss depth and zero
    exactly when the SLA is met."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
        )
        .cast("long")
        .alias("wk")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
        .cast("long")
        .alias("ok"),
    )
    att = F.expr("ok * 1000000 DIV total")
    (lo0, c0), (lo1, c1) = SLA_CREDIT_LADDER
    return weekly.select(
        "wk",
        F.col("total").cast("bigint"),
        F.col("ok").cast("bigint"),
        att.cast("bigint").alias("attainment_ppm"),
        (att >= SLA_TARGET_PPM).alias("met_sla"),
        F.when(att < lo0, c0)
        .when(att < lo1, c1)
        .otherwise(0)
        .cast("bigint")
        .alias("credit_ppm"),
    )


@query(
    "q415_littles_law",
    oracle="""
    WITH job AS (
      SELECT o.o_orderpriority AS prio,
             CAST(o.o_orderdate AS DATE) AS arrive,
             GREATEST(CAST(MAX(l.l_shipdate) AS DATE) + 1,
                      CAST(o.o_orderdate AS DATE)) AS depart,
             MAX(l.l_shipdate) < o.o_orderdate AS inverted
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, o.o_orderkey, 2, o.o_orderdate
    ),
    clipped AS (
      SELECT prio, arrive, depart,
             GREATEST(arrive, DATE '1995-01-01') AS cs,
             LEAST(depart, DATE '2002-01-01') AS ce
      FROM job
      WHERE depart > DATE '1995-01-01' AND arrive < DATE '2002-01-01'
        AND depart > arrive
    ),
    perjob AS (
      SELECT prio,
             CAST(COUNT(*) AS BIGINT) AS n_open,
             CAST(SUM(ce - cs) AS BIGINT) AS sum_overlap_days
      FROM clipped GROUP BY prio
    ),
    delta AS (
      SELECT prio, d, SUM(x) AS net FROM (
        SELECT prio, cs AS d, 1 AS x FROM clipped
        UNION ALL
        SELECT prio, ce AS d, -1 AS x FROM clipped
      ) GROUP BY prio, d
    ),
    sweep AS (
      SELECT prio,
             CAST(SUM(active * gap) AS BIGINT) AS integral_days
      FROM (
        SELECT prio,
               SUM(net) OVER (PARTITION BY prio ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS active,
               COALESCE(LEAD(d) OVER (PARTITION BY prio ORDER BY d) - d, 0)
                 AS gap
        FROM delta
      ) GROUP BY prio
    ),
    arrivals AS (
      SELECT prio,
             CAST(COUNT(*) AS BIGINT) AS n_arrivals,
             CAST(SUM(depart - arrive) AS BIGINT) AS sum_residence_days,
             CAST(SUM(CASE WHEN inverted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inverted
      FROM job
      WHERE arrive >= DATE '1995-01-01' AND arrive < DATE '2002-01-01'
      GROUP BY prio
    )
    SELECT p.prio, p.n_open, s.integral_days, p.sum_overlap_days,
           s.integral_days = p.sum_overlap_days AS conservation_ok,
           a.n_arrivals, a.n_inverted,
           CAST(s.integral_days AS DOUBLE) / 2557 AS l_avg_open,
           CAST(a.sum_residence_days AS DOUBLE) / 2557 AS lambda_w
    FROM perjob p
    JOIN sweep s ON s.prio = p.prio
    JOIN arrivals a ON a.prio = p.prio
    """,
)
def q415_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit over the order-fulfillment queue — the queueing
    identity L = λW checked from data, per priority class, on the
    full-span [1995-01-01, 2002-01-01) measurement window (T = 2557
    days — wide enough that almost every job is fully contained, so
    `l_avg_open` vs `lambda_w` lands within a few percent; shrink the
    window and the straddling jobs ARE the visible gap). Jobs are
    orders (arrive = order date, depart = day after the last lineitem
    ships — half-open [arrive, depart)).
    The load L·T is computed by TWO INDEPENDENT ROUTES that the
    conservation theorem says must agree EXACTLY in integer days:
    (1) per-job — Σ of each job's clipped overlap with the window;
    (2) boundary sweep — q121's +1/−1 delta cumsum × gap-to-next-
    boundary, integrating the concurrency step function. Their equality
    (`conservation_ok`, and the pytest property) is a THEOREM ORACLE:
    any clipping, off-by-one, or frame bug breaks it. λW needs no
    division dance — λ·W = (n/T)·(Σres/n) telescopes to Σres/T, ONE
    float division, so `l_avg_open` vs `lambda_w` is the classic
    finite-window Little comparison (they differ only by edge effects:
    jobs straddling the window boundaries). Both routes are
    calendar-bounded after the first grouped aggregate (the q91 rule) —
    the sweep's window ordering runs over net-per-day rows, never raw
    orders. Line-less orders (257 at sf0.01 — the q291 finding) are
    excluded by the inner join on both engines. A second generator
    artifact this query SURFACED (the replay test caught it — the two
    conserved routes shared the bug, the independent recompute didn't):
    ~15% of orders have max(l_shipdate) BEFORE o_orderdate; their
    would-be-negative intervals are clamped to empty (depart :=
    max(depart, arrive), zero residence) and counted in
    `n_inverted`."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    w0, w1 = F.lit("1995-01-01").cast("date"), F.lit("2002-01-01").cast("date")
    job = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            "o_orderkey",
            F.to_date("o_orderdate").alias("arrive"),
            F.col("o_orderdate").alias("odt"),
        )
        .agg(
            F.greatest(
                F.date_add(F.max(F.to_date("l_shipdate")), 1), F.col("arrive")
            ).alias("depart"),
            (F.max("l_shipdate") < F.col("odt")).alias("inverted"),
        )
    )
    clipped = (
        job.filter(
            (F.col("depart") > w0)
            & (F.col("arrive") < w1)
            & (F.col("depart") > F.col("arrive"))
        )
        .select(
            "prio",
            F.greatest("arrive", w0).alias("cs"),
            F.least("depart", w1).alias("ce"),
        )
        .localCheckpoint(eager=True)
    )
    perjob = clipped.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("n_open"),
        F.sum(F.datediff("ce", "cs")).cast("long").alias("sum_overlap_days"),
    )
    delta = (
        clipped.select("prio", F.col("cs").alias("d"), F.lit(1).alias("x"))
        .unionAll(clipped.select("prio", F.col("ce").alias("d"), F.lit(-1).alias("x")))
        .groupBy("prio", "d")
        .agg(F.sum("x").alias("net"))
    )
    ws = Window.partitionBy("prio").orderBy("d")
    sweep = (
        delta.select(
            "prio",
            F.sum("net").over(ws.rowsBetween(Window.unboundedPreceding, 0)).alias("active"),
            F.coalesce(
                F.datediff(F.lead("d").over(ws), F.col("d")), F.lit(0)
            ).alias("gap"),
        )
        .groupBy("prio")
        .agg(F.sum(F.col("active") * F.col("gap")).cast("long").alias("integral_days"))
    )
    arrivals = (
        job.filter((F.col("arrive") >= w0) & (F.col("arrive") < w1))
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            F.sum(F.datediff("depart", "arrive")).cast("long").alias("sum_residence_days"),
            F.sum(F.col("inverted").cast("long")).cast("long").alias("n_inverted"),
        )
    )
    return (
        perjob.join(sweep, "prio")
        .join(arrivals, "prio")
        .select(
            "prio",
            "n_open",
            "integral_days",
            "sum_overlap_days",
            (F.col("integral_days") == F.col("sum_overlap_days")).alias(
                "conservation_ok"
            ),
            "n_arrivals",
            "n_inverted",
            (F.col("integral_days").cast("double") / 2557).alias("l_avg_open"),
            (F.col("sum_residence_days").cast("double") / 2557).alias("lambda_w"),
        )
    )


def _greedy_eft_kernel(pdf):
    """Earliest-finish-time greedy scan over one user's intervals (sorted
    by (e, s)); provably optimal for max non-overlapping selection."""
    pdf = pdf.sort_values(["e", "s"], kind="mergesort")
    out_s, out_e = [], []
    last_e = None
    for s, e in zip(pdf["s"], pdf["e"]):
        if last_e is None or s >= last_e:
            out_s.append(s)
            out_e.append(e)
            last_e = e
    import pandas as pd

    return pd.DataFrame(
        {"uid": pdf["uid"].iloc[:1].repeat(len(out_s)).values, "s": out_s, "e": out_e}
    )


@query(
    "q416_activity_selection",
    oracle="""
    WITH RECURSIVE iv AS (
      SELECT user_id AS uid,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT)
               + (CAST(floor(value) AS BIGINT) % 240) * 60 + 600 AS e
      FROM events
    ),
    sel(uid, s, e) AS (
      SELECT uid, s, e FROM (
        SELECT uid, s, e, ROW_NUMBER() OVER (PARTITION BY uid ORDER BY e, s)
          AS rn
        FROM iv
      ) WHERE rn = 1
      UNION ALL
      SELECT uid, s, e FROM (
        SELECT c.uid, c.s, c.e,
               ROW_NUMBER() OVER (PARTITION BY c.uid ORDER BY c.e, c.s) AS rn
        FROM (
          SELECT iv.uid, iv.s, iv.e
          FROM sel JOIN iv ON iv.uid = sel.uid AND iv.s >= sel.e
        ) c
      ) WHERE rn = 1
    )
    SELECT uid, s, e FROM sel
    """,
)
def q416_activity_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVITY SELECTION — the maximum set of non-overlapping meetings
    per user (half-open [s, e) second intervals derived from events:
    start = event second, duration = (⌊value⌋ mod 240) minutes + 10).
    The earliest-finish-time greedy is PROVABLY optimal (the exchange
    argument), and greedy chains are inherently sequential state — so
    this is a sanctioned §2.9 grouped-map kernel: applyInPandas per
    user runs the O(n log n) sort + linear scan where the user's rows
    already live (one shuffle on user_id, no driver collect; the same
    scale shape as q113's sessionizer). The DuckDB oracle replays the
    chain as a recursive CTE — each recursion step picks the
    ROW_NUMBER()=1 interval by (e, s) among those starting at/after the
    previous selection's end, so the full selected CHAIN (not just its
    size) is hash-checked. Ties on (e, s) pick identical-valued rows on
    both engines, so the output is tie-safe. Property test: an
    independent O(n²) DP on sampled users confirms the greedy count is
    the true optimum (the theorem, re-proven on this data); unit chains
    (meeting at a free slot exactly at last end) are exercised by the
    half-open >= boundary."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        F.col("user_id").alias("uid"),
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts")
            + (F.floor("value").cast("long") % 240) * 60
            + 600
        ).alias("e"),
    )
    return iv.groupBy("uid").applyInPandas(
        _greedy_eft_kernel, schema="uid long, s long, e long"
    )


def _weighted_interval_kernel(pdf):
    """O(n log n) weighted-interval-scheduling DP over one user's
    intervals: sort by end, p(i) via binary search, best[i] =
    max(best[i-1], best[p(i)] + w_i)."""
    import bisect

    import pandas as pd

    pdf = pdf.sort_values(["e", "s", "w"], kind="mergesort")
    ends = pdf["e"].tolist()
    starts = pdf["s"].tolist()
    ws = pdf["w"].tolist()
    n = len(ends)
    best = [0] * (n + 1)
    for i in range(1, n + 1):
        pi = bisect.bisect_right(ends, starts[i - 1], 0, i - 1)
        best[i] = max(best[i - 1], best[pi] + ws[i - 1])
    return pd.DataFrame(
        {
            "uid": pdf["uid"].iloc[:1].values,
            "best_value": [best[n]],
            "n_intervals": [n],
        }
    )


@query(
    "q428_weighted_intervals",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id AS uid,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT)
               + (CAST(floor(value) AS BIGINT) % 240) * 60 + 600 AS e,
             CAST(floor(value * 100) AS BIGINT) % 500 + 100 AS w
      FROM events
    ),
    iv AS (
      SELECT uid, s, e, w,
             ROW_NUMBER() OVER (PARTITION BY uid ORDER BY e, s, w) AS i,
             COUNT(*) OVER (PARTITION BY uid) AS n
      FROM base
    ),
    p AS (
      SELECT a.uid, a.i, a.w, a.n, COUNT(b.i) AS pi
      FROM iv a LEFT JOIN iv b ON b.uid = a.uid AND b.e <= a.s
      GROUP BY a.uid, a.i, a.w, a.n
    ),
    dp(uid, i, bests) AS (
      SELECT uid, CAST(0 AS BIGINT), [CAST(0 AS BIGINT)]
      FROM (SELECT DISTINCT uid FROM iv)
      UNION ALL
      SELECT d.uid, d.i + 1,
             list_append(d.bests,
               GREATEST(d.bests[CAST(d.i + 1 AS INTEGER)],
                        d.bests[CAST(p.pi + 1 AS INTEGER)] + p.w))
      FROM dp d JOIN p ON p.uid = d.uid AND p.i = d.i + 1
    )
    SELECT d.uid AS uid,
           CAST(d.bests[CAST(d.i + 1 AS INTEGER)] AS BIGINT) AS best_value,
           CAST(d.i AS BIGINT) AS n_intervals
    FROM dp d JOIN (SELECT DISTINCT uid AS u2, n FROM iv) nn
      ON nn.u2 = d.uid AND d.i = nn.n
    """,
)
def q428_weighted_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED INTERVAL SCHEDULING — q416's optimization-grade sibling:
    maximize total VALUE (not count) of non-overlapping meetings per
    user, where greedy is provably NOT optimal and the textbook
    O(n log n) DP is required: sort by end, p(i) = last compatible
    interval via binary search, best[i] = max(best[i−1],
    best[p(i)] + w_i). Same grouped-map scale shape as q416 (one
    shuffle on user_id, the DP runs where the rows live); the same
    interval derivation plus an integer cents weight. The ORACLE is
    the interesting artifact: the DP is replayed as a DuckDB
    recursive CTE whose working row carries the whole best[] table as
    a GROWING LIST — each recursion step appends
    GREATEST(bests[i], bests[p(i)+1] + w) — proving the sequential
    recurrence is expressible in pure SQL (p(i) precomputes
    non-recursively as a count of intervals with e <= s_i, which is a
    contiguous prefix of the end-sorted order precisely because
    durations are positive). CROSSOVER THEOREM with q416: under unit
    weights the DP optimum equals the greedy chain length — the
    pytest property runs the kernel with w=1 and matches q416 per
    user, tying the two independent implementations (and the two
    oracle formulations — recursive argmin chain vs list-state DP)
    to one another."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        F.col("user_id").alias("uid"),
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts")
            + (F.floor("value").cast("long") % 240) * 60
            + 600
        ).alias("e"),
        (F.floor(F.col("value") * 100).cast("long") % 500 + 100).alias("w"),
    )
    return iv.groupBy("uid").applyInPandas(
        _weighted_interval_kernel,
        schema="uid long, best_value long, n_intervals long",
    )


_LTV_SCALE = 1 << 20
_LTV_T = 12


def _ltv_oracle() -> str:
    """Unrolled value-iteration replay: v_{t+1} = r + 0.9·P·v_t with
    fixed-point probabilities and floor division at the two defined
    points per sweep (the q94 discipline)."""
    parts = [
        f"""
    WITH s AS MATERIALIZED (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    o AS MATERIALIZED (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    ),
    r AS MATERIALIZED (SELECT src, CAST(SUM(n) AS BIGINT) AS rn FROM o GROUP BY src),
    p AS MATERIALIZED (
      SELECT o.src, o.dst, o.n * {_LTV_SCALE} // r.rn AS p_fx
      FROM o JOIN r ON r.src = o.src
    ),
    rew AS MATERIALIZED (
      SELECT event_type AS state,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS r_c
      FROM events GROUP BY event_type
    ),
    v0 AS MATERIALIZED (SELECT state, CAST(0 AS BIGINT) AS v FROM rew)"""
    ]
    for t in range(1, _LTV_T + 1):
        parts.append(
            f""",
    v{t} AS MATERIALIZED (
      SELECT rew.state,
             rew.r_c + 9 * (SELECT COALESCE(SUM(p.p_fx * v.v), 0)
                            FROM p JOIN v{t - 1} v ON v.state = p.dst
                            WHERE p.src = rew.state) // {_LTV_SCALE} // 10 AS v
      FROM rew
    )"""
        )
    parts.append(
        f"""
    SELECT rew.state, rew.r_c,
           CAST(v.v AS BIGINT) AS ltv{_LTV_T}_c,
           CAST(v.v AS DOUBLE) / 100 AS ltv{_LTV_T}_dollars
    FROM rew JOIN v{_LTV_T} v ON v.state = rew.state"""
    )
    return "".join(parts)


@query("q437_markov_ltv", oracle=_ltv_oracle())
def q437_markov_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-HORIZON LTV — expected cumulative discounted reward over a
    12-step behavioral horizon: value iteration v_{t+1} = r + γ·P·v_t
    (γ = 0.9) over q160's transition matrix, with per-state reward =
    the state's mean event value in floor cents. This is the absorbing
    -chain LTV / credit roll-rate computation done the q94 way: P is
    int64 fixed-point (2^20 units, floor division at the row
    normalize), each sweep is one matrix-vector product as a join +
    grouped SUM with floor division at exactly two defined points
    (÷SCALE then ÷10 for γ = 9/10) — order-independent integer
    arithmetic, so the DuckDB unrolled-CTE oracle replays all 12
    sweeps bit-for-bit. The value vector is state-count-sized (5 here,
    millions for a real user-state model — still node-sized relative
    to the event log, the q117 broadcast argument); the only full-data
    passes build P and r once. Property tests: v is monotone
    nondecreasing in t (rewards are nonneg), bounded by r_max·Σγ^t,
    and a numpy float replay agrees within fixed-point quantization
    (12 sweeps × ≤ 2 units/sweep)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    o = s.groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = o.groupBy("src").agg(F.sum("n").alias("rn"))
    p = (
        o.join(r, "src")
        .select("src", "dst", F.expr(f"n * {_LTV_SCALE} div rn").alias("p_fx"))
        .localCheckpoint(eager=True)
    )
    rew = ev.groupBy(F.col("event_type").alias("state")).agg(
        F.expr("CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) div count(1) AS BIGINT)").alias(
            "r_c"
        )
    ).localCheckpoint(eager=True)
    v = rew.select("state", F.lit(0).cast("long").alias("v"))
    for _ in range(_LTV_T):
        pv = (
            p.join(v, p.dst == v.state)
            .groupBy(F.col("src").alias("state"))
            .agg(F.sum(F.col("p_fx") * F.col("v")).alias("pv"))
        )
        v = (
            rew.join(pv, "state", "left")
            .select(
                "state",
                (
                    F.col("r_c")
                    + F.expr(f"9 * coalesce(pv, 0) div {_LTV_SCALE} div 10")
                ).cast("long").alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    return rew.join(v, "state").select(
        "state",
        "r_c",
        F.col("v").alias(f"ltv{_LTV_T}_c"),
        (F.col("v").cast("double") / 100).alias(f"ltv{_LTV_T}_dollars"),
    )


@query(
    "q452_markov_next_event_accuracy",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt,
             CAST(ts AS DATE) < DATE '2024-01-22' AS is_train
      FROM events
    ),
    trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE nxt IS NOT NULL AND is_train GROUP BY 1, 2
    ),
    pred AS (
      SELECT src, dst AS predicted
      FROM (SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY n DESC, dst) AS rn
            FROM trans) WHERE rn = 1
    ),
    base AS (
      SELECT dst AS majority
      FROM (SELECT dst, SUM(n) AS tot FROM trans GROUP BY dst
            ORDER BY tot DESC, dst LIMIT 1)
    ),
    test AS (
      SELECT event_type AS src, nxt AS actual
      FROM s WHERE nxt IS NOT NULL AND NOT is_train
    )
    SELECT t.src,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.actual = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t.actual = p.predicted THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm,
           CAST(SUM(CASE WHEN t.actual = b.majority THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS baseline_ppm,
           p.predicted
    FROM test t
    JOIN pred p ON p.src = t.src
    CROSS JOIN base b
    GROUP BY t.src, p.predicted
    """,
)
def q452_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-EVENT PREDICTION BACKTEST for q160's Markov model — the
    eval loop that turns a transition matrix into a shippable
    predictor: train on the first three weeks (the q33 no-leakage
    temporal split — transitions whose SOURCE event predates Jan 22),
    predict each source state's argmax next event, score top-1
    accuracy on the held-out week, and report it NEXT TO the
    majority-class baseline (the q453-adjacent honesty rule: a
    next-event model that cannot beat 'predict the globally most
    common event' is a lookup table wearing a model's hat — the
    property test asserts the per-source accuracy beats or ties the
    baseline in aggregate). All counts exact; accuracies in floor
    ppm. One windowed pass builds pairs, the matrix is
    state²-bounded, the test join broadcasts the 5-row predictor —
    at 100 TB only the pair-building pass touches the event log.
    Property tests: python replay of train/predict/score; train and
    test transition sets are disjoint in time."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        (F.to_date("ts") < F.lit("2024-01-22").cast("date")).alias("is_train"),
    ).filter(F.col("nxt").isNotNull())
    trans = (
        s.filter("is_train")
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wp = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("dst"))
    pred = (
        trans.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("src", F.col("dst").alias("predicted"))
    )
    base = (
        trans.groupBy("dst")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("dst"))
        .limit(1)
        .select(F.col("dst").alias("majority"))
    )
    test = s.filter(~F.col("is_train")).select(
        F.col("event_type").alias("src"), F.col("nxt").alias("actual")
    )
    return (
        test.join(F.broadcast(pred), "src")
        .crossJoin(F.broadcast(base))
        .groupBy("src", "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("accuracy_ppm"),
            F.expr(
                "CAST(SUM(CASE WHEN actual = majority THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("baseline_ppm"),
        )
        .select(
            "src", "n_test", "n_correct", "accuracy_ppm", "baseline_ppm",
            "predicted",
        )
    )


@query(
    "q463_dtw_distance",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events
      WHERE CAST(ts AS DATE) - DATE '2024-01-01' BETWEEN 0 AND 27
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT t.event_type, g.d, COALESCE(dd.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT UNNEST(range(0, 28)) AS d) g
      LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = g.d
    ),
    series AS (
      SELECT event_type, list(y ORDER BY d) AS l FROM spine GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.l AS la, b.l AS lb
      FROM series a JOIN series b ON a.event_type < b.event_type
    ),
    dp AS (
      SELECT type_a, type_b, la, lb, 1 AS k,
             [CAST(abs(la[1] - lb[1]) AS BIGINT)] AS acc
      FROM pairs
      UNION ALL
      SELECT type_a, type_b, la, lb, k + 1,
             list_append(acc,
               abs(la[(k // 28) + 1] - lb[(k % 28) + 1])
               + CASE WHEN k // 28 = 0 THEN acc[k]
                      WHEN k % 28 = 0 THEN acc[k - 27]
                      ELSE least(acc[k], acc[k - 27], acc[k - 28])
                 END)
      FROM dp WHERE k < 28 * 28
    )
    SELECT type_a, type_b, CAST(28 AS BIGINT) AS n_days,
           CAST(acc[28 * 28] AS BIGINT) AS dtw
    FROM dp WHERE k = 28 * 28
    """,
)
def q463_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING between every pair of event-type daily
    series over a fixed 28-day window — the alignment-tolerant series
    distance (Sakoe & Chiba 1978): where q178's autocorrelation and
    q442's drift compare series POINTWISE, DTW lets one series lag or
    stretch, charging |a_i − b_j| along the cheapest monotone warp
    path. Costs are integer counts, so the whole DP is EXACT int64 —
    no float ever appears. The Spark side runs the classic O(n·m)
    row-by-row DP as a NESTED array fold (aggregate over la carrying
    the previous DP row, aggregate over lb building the new row —
    j = size(row)+1 and the three predecessors are element_at lookups,
    all inside one codegen'd expression: no UDF, no explode, no
    shuffle beyond the daily rollup). The DuckDB oracle replays the
    IDENTICAL recurrence cell-at-a-time as a recursive CTE in
    row-major order (cell c=k+1: left=acc[k], up=acc[k−27],
    diag=acc[k−28] under the border cases) — two utterly different
    executions, one answer, which is the point of the check. The
    28-day clamp bounds the DP at every scale factor (DTW windows are
    how production uses it anyway); pair fan-out is C(|types|,2) on a
    5-value enum. The per-pair state is one 28-long row — at 100 TB
    the daily rollup is the only data-sized stage."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    daily = (
        ev.select("event_type", d.alias("d"))
        .where((F.col("d") >= 0) & (F.col("d") <= 27))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(
        spark.range(0, 28).select(F.col("id").cast("long").alias("d"))
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    series = filled.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("l")
    )
    a = series.select(F.col("event_type").alias("type_a"), F.col("l").alias("la"))
    b = series.select(F.col("event_type").alias("type_b"), F.col("l").alias("lb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    empty = F.expr("CAST(array() AS ARRAY<BIGINT>)")
    dtw = F.element_at(
        F.aggregate(
            "la",
            empty,
            lambda prev, av: F.aggregate(
                F.col("lb"),
                empty,
                lambda row, bv: F.concat(
                    row,
                    F.array(
                        F.abs(av - bv)
                        + F.when(
                            F.size(prev) == 0,
                            F.when(
                                F.size(row) == 0, F.lit(0).cast("long")
                            ).otherwise(F.element_at(row, -1)),
                        ).otherwise(
                            F.when(
                                F.size(row) == 0, F.element_at(prev, 1)
                            ).otherwise(
                                F.least(
                                    F.element_at(prev, F.size(row) + 1),
                                    F.element_at(prev, F.size(row)),
                                    F.element_at(row, -1),
                                )
                            )
                        )
                    ),
                ),
            ),
        ),
        -1,
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.lit(28).cast("long").alias("n_days"),
        dtw.cast("long").alias("dtw"),
    )


def _lb_rho_sql(k: int) -> str:
    """ρ_k as one exact-int division: Σ(n·x_t−S)(n·x_{t+k}−S) / Σ(n·x_t−S)²."""
    return f"""CAST(list_sum(list_transform(generate_series(1, n - {k}),
                 t -> (n * l[t] - s) * (n * l[t + {k}] - s))) AS DOUBLE)
               / CAST(den AS DOUBLE)"""


@query(
    "q465_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events
      WHERE CAST(ts AS DATE) - DATE '2024-01-01' >= 0
      GROUP BY 1, 2
    ),
    mx AS (
      SELECT MAX(CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)) AS maxd
      FROM events
    ),
    spine AS (
      SELECT t.event_type, g.d, COALESCE(dd.y, 0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT UNNEST(range(0, (SELECT maxd + 1 FROM mx))) AS d) g
      LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = g.d
    ),
    series AS (
      SELECT event_type,
             list(y ORDER BY d) AS l,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM spine GROUP BY event_type
    ),
    base AS (
      SELECT event_type, l, n, s,
             CAST(list_sum(list_transform(generate_series(1, n),
                  t -> (n * l[t] - s) * (n * l[t] - s))) AS BIGINT) AS den
      FROM series WHERE n >= 8
    ),
    rho AS (
      SELECT event_type, n,
             {_lb_rho_sql(1)} AS rho1, {_lb_rho_sql(2)} AS rho2,
             {_lb_rho_sql(3)} AS rho3, {_lb_rho_sql(4)} AS rho4,
             {_lb_rho_sql(5)} AS rho5, {_lb_rho_sql(6)} AS rho6,
             {_lb_rho_sql(7)} AS rho7
      FROM base
    )
    SELECT event_type, n, rho1,
           CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * (rho1 * rho1 / (CAST(n AS DOUBLE) - 1.0)
              + rho2 * rho2 / (CAST(n AS DOUBLE) - 2.0)
              + rho3 * rho3 / (CAST(n AS DOUBLE) - 3.0)
              + rho4 * rho4 / (CAST(n AS DOUBLE) - 4.0)
              + rho5 * rho5 / (CAST(n AS DOUBLE) - 5.0)
              + rho6 * rho6 / (CAST(n AS DOUBLE) - 6.0)
              + rho7 * rho7 / (CAST(n AS DOUBLE) - 7.0)) AS q_lb,
           CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * (rho1 * rho1 / (CAST(n AS DOUBLE) - 1.0)
              + rho2 * rho2 / (CAST(n AS DOUBLE) - 2.0)
              + rho3 * rho3 / (CAST(n AS DOUBLE) - 3.0)
              + rho4 * rho4 / (CAST(n AS DOUBLE) - 4.0)
              + rho5 * rho5 / (CAST(n AS DOUBLE) - 5.0)
              + rho6 * rho6 / (CAST(n AS DOUBLE) - 6.0)
              + rho7 * rho7 / (CAST(n AS DOUBLE) - 7.0)) < 14.067
             AS white_noise_5pct
    FROM rho
    """,
)
def q465_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST — is each event type's daily-count
    series white noise: Q = n(n+2)·Σ_{{k=1..7}} ρ̂_k²/(n−k) against the
    χ²(7) 5%% line 14.067 (a literal). The autocorrelations never see
    a float mean: with S = Σx, the centered products scale by n —
    ρ_k = Σ(n·x_t−S)(n·x_{{t+k}}−S) / Σ(n·x_t−S)² — so numerator and
    denominator are EXACT int64 and each ρ_k is one IEEE division;
    the seven ρ_k²/(n−k) terms fold in fixed lag order (q374's
    pivot-to-fixed-expression rule applied to lags instead of
    groups). Generalizes q178's single-lag ACF into the portmanteau
    every forecast-residual check (q321, q430) should gate on.
    Series are zero-filled on the shared 0..max(d) calendar spine so
    both engines index the identical array; the per-type state is one
    day-count array (calendar-bounded — days, not events), making the
    daily rollup the only data-sized shuffle at any scale. Lags run
    over explicit index lists (Spark `sequence`+`element_at` fold ≡
    DuckDB `generate_series`+`list_sum`), all inside codegen — no
    UDF, no self-join per lag."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    daily = (
        ev.select("event_type", d.alias("d"))
        .where(F.col("d") >= 0)
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    mx = ev.agg(F.max(d).alias("maxd"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("maxd"))).alias("d"),
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    series = filled.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda st: st["y"]
        ).alias("l"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    add = lambda acc, v: acc + v  # noqa: E731
    zero = F.lit(0).cast("long")
    n, s, l = F.col("n"), F.col("s"), F.col("l")
    base = series.where(n >= 8).withColumn(
        "den",
        F.aggregate(
            F.transform(l, lambda x: (n * x - s) * (n * x - s)), zero, add
        ),
    )

    def rho(k: int):
        num = F.aggregate(
            F.transform(
                F.sequence(F.lit(1).cast("long"), n - k),
                lambda t: (n * F.element_at(l, t.cast("int")) - s)
                * (n * F.element_at(l, (t + k).cast("int")) - s),
            ),
            zero,
            add,
        )
        return num.cast("double") / F.col("den").cast("double")

    r = base.select(
        "event_type", "n", *[rho(k).alias(f"rho{k}") for k in range(1, 8)]
    )
    nd = F.col("n").cast("double")
    q = None
    for k in range(1, 8):
        t = F.col(f"rho{k}") * F.col(f"rho{k}") / (nd - float(k))
        q = t if q is None else q + t
    q = nd * (nd + 2.0) * q
    return r.select(
        "event_type", "n", "rho1", q.alias("q_lb"), (q < 14.067).alias("white_noise_5pct")
    )


@query(
    "q466_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events
      WHERE CAST(ts AS DATE) - DATE '2024-01-01' >= 0
      GROUP BY 1, 2
    ),
    mx AS (
      SELECT MAX(CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)) AS maxd
      FROM events
    ),
    spine AS (
      SELECT t.event_type, g.d, COALESCE(dd.y, 0.0) AS y
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT UNNEST(range(0, (SELECT maxd + 1 FROM mx))) AS d) g
      LEFT JOIN daily dd ON dd.event_type = t.event_type AND dd.d = g.d
    ),
    folded AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                            list([y, 0.0, 0.0, 0.0, 0.0] ORDER BY d)),
               (a, x) -> [
                 a[1] + x[1],
                 a[2] + 1,
                 a[3] + x[1] - (a[1] + x[1]) / (a[2] + 1) - 1.0,
                 least(a[4],
                       a[3] + x[1] - (a[1] + x[1]) / (a[2] + 1) - 1.0),
                 greatest(a[5],
                   (a[3] + x[1] - (a[1] + x[1]) / (a[2] + 1) - 1.0)
                   - least(a[4],
                           a[3] + x[1] - (a[1] + x[1]) / (a[2] + 1) - 1.0))
               ]
             ) AS st
      FROM spine GROUP BY event_type
    )
    SELECT event_type, n_days,
           st[3] - st[4] AS ph_final,
           st[5] AS ph_max,
           st[5] > 50.0 AS drift_alarm
    FROM folded
    """,
)
def q466_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY DRIFT DETECTOR over each event type's daily counts —
    the sequential change-of-mean monitor (Page 1954, the streaming
    sibling of q167's retrospective CUSUM): m_t accumulates
    (x_t − x̄_t − δ) against the RUNNING mean, PH_t = m_t − min_{i≤t}
    m_i, alarm when PH exceeds λ (δ=1 tolerated drift, λ=50 on this
    count scale). The recurrence is order-dependent float state with a
    running-mean division at every step — the ordered-fold parity rule
    (q419) at its hardest: both engines fold the IDENTICAL
    [sum, count, m, m_min, ph_max] 5-vector over the day-ordered,
    zero-filled series, every subexpression written once and inlined
    the same way, so the IEEE op sequence is bit-identical. A
    zero-state sentinel is PREPENDED before the fold because DuckDB's
    list_reduce seeds from the first element (q419's seeding
    coincidence doesn't hold here — PH's post-first-observation state
    is not the raw first element). Per-type state is one 5-vector and
    the series is calendar-bounded: the daily rollup is the only
    data-sized stage at any scale; this is the batch replay of what
    q434's streaming surface would run with applyInPandasWithState.
    The fixture's stationary counts must NOT alarm; the tests replay
    the identical recurrence in Python, then plant a level shift and
    watch it fire — calibration in both directions."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    daily = (
        ev.select("event_type", d.alias("d"))
        .where(F.col("d") >= 0)
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    mx = ev.agg(F.max(d).alias("maxd"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("maxd"))).alias("d"),
    )
    filled = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("y", F.lit(0.0)).alias("y")
    )
    series = filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda st: st["y"]
        ).alias("l"),
    )
    mean_new = lambda a, x: (F.element_at(a, 1) + x) / (F.element_at(a, 2) + 1)  # noqa: E731
    m_new = lambda a, x: F.element_at(a, 3) + x - mean_new(a, x) - 1.0  # noqa: E731
    mmin_new = lambda a, x: F.least(F.element_at(a, 4), m_new(a, x))  # noqa: E731
    st = F.aggregate(
        "l",
        F.expr("CAST(array(0, 0, 0, 0, 0) AS ARRAY<DOUBLE>)"),
        lambda a, x: F.array(
            F.element_at(a, 1) + x,
            F.element_at(a, 2) + 1,
            m_new(a, x),
            mmin_new(a, x),
            F.greatest(
                F.element_at(a, 5), m_new(a, x) - mmin_new(a, x)
            ),
        ),
    )
    return series.select(
        "event_type",
        "n_days",
        (F.element_at(st, 3) - F.element_at(st, 4)).alias("ph_final"),
        F.element_at(st, 5).alias("ph_max"),
        (F.element_at(st, 5) > 50.0).alias("drift_alarm"),
    )


@query(
    "q467_lz78_complexity",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ),
    folded AS (
      SELECT user_id,
             CAST(length(seq) AS BIGINT) AS n_events,
             list_reduce(
               list_prepend(['', '0'],
                 list_transform(string_split(seq, ''), c -> [c])),
               (a, x) -> CASE
                 WHEN list_contains(a[3:], a[1] || x[1])
                 THEN list_concat([a[1] || x[1], a[2]], a[3:])
                 ELSE list_concat(
                   ['', CAST(CAST(a[2] AS BIGINT) + 1 AS VARCHAR)],
                   list_concat(a[3:], [a[1] || x[1]]))
               END
             ) AS st
      FROM coded
    )
    SELECT user_id, n_events,
           CAST(st[2] AS BIGINT)
             + CASE WHEN st[1] <> '' THEN 1 ELSE 0 END AS lz78_phrases,
           CAST(CAST(st[2] AS BIGINT)
             + CASE WHEN st[1] <> '' THEN 1 ELSE 0 END AS DOUBLE)
             / CAST(n_events AS DOUBLE) AS phrase_ratio
    FROM folded
    """,
)
def q467_lz78_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ78 SEQUENCE COMPLEXITY of each user's behavior string — the
    incremental-parse phrase count (Ziv & Lempel 1978): walk the coded
    event sequence (q287's one-char-per-event fold, ordered by
    ts, event_id), grow the current phrase while it's already in the
    dictionary, and when it's novel, bank it and restart; an unfinished
    tail counts as one phrase. Phrase count per symbol is the
    COMPRESSIBILITY of the behavior — the repetition metric that
    string entropy proxies (q99's repetition filter, q335's n-gram
    novelty) approximate, computed exactly: a user looping
    view-click-view-click parses into few long phrases, an erratic one
    into many short ones. Integer/string state only — nothing to
    drift. The parse is inherently sequential per user, so it runs as
    an ordered fold with the dictionary AS the accumulator: Spark
    carries struct(cur, phrases, dict array) through F.aggregate over
    the split chars; DuckDB carries the same state flattened into one
    VARCHAR list ([cur, phrases, dict...] with a prepended zero-state
    sentinel, since list_reduce seeds from element 1). Per-user state
    is bounded by the dictionary (≤ phrase count ≤ sequence length);
    sequences are entity-bounded, so at 100 TB this is one groupBy
    plus an embarrassingly-parallel fold — the same shape as q287."""
    ev = load(spark, sf_dir, "events")
    coded = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("seq")
    )
    init = F.expr(
        "named_struct('cur', '', 'ph', CAST(0 AS BIGINT),"
        " 'dict', CAST(array() AS ARRAY<STRING>))"
    )
    st = F.aggregate(
        F.split("seq", ""),
        init,
        lambda a, c: F.when(
            F.array_contains(a["dict"], F.concat(a["cur"], c)),
            F.struct(
                F.concat(a["cur"], c).alias("cur"),
                a["ph"].alias("ph"),
                a["dict"].alias("dict"),
            ),
        ).otherwise(
            F.struct(
                F.lit("").alias("cur"),
                (a["ph"] + 1).alias("ph"),
                F.concat(a["dict"], F.array(F.concat(a["cur"], c))).alias("dict"),
            )
        ),
    )
    phrases = st["ph"] + F.when(st["cur"] != "", 1).otherwise(0)
    return coded.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        phrases.cast("long").alias("lz78_phrases"),
        (phrases.cast("double") / F.length("seq").cast("double")).alias(
            "phrase_ratio"
        ),
    )


@query(
    "q468_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ),
    signed AS (
      SELECT dd.event_type, dd.d,
             CASE WHEN m.n * dd.y > m.s THEN 1 ELSE 0 END AS sgn
      FROM daily dd JOIN m ON m.event_type = dd.event_type
      WHERE m.n * dd.y <> m.s
    ),
    runs AS (
      SELECT event_type,
             CAST(SUM(sgn) AS BIGINT) AS n1,
             CAST(SUM(1 - sgn) AS BIGINT) AS n2,
             CAST(1 + SUM(CASE WHEN sgn <> prev THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM (
        SELECT event_type, sgn,
               LAG(sgn) OVER (PARTITION BY event_type ORDER BY d) AS prev
        FROM signed
      ) GROUP BY event_type
    )
    SELECT event_type, n1, n2, r,
           (CAST(r AS DOUBLE)
              - CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) - 1.0)
           / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                  * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                     * CAST(n1 + n2 - 1 AS DOUBLE))) AS z,
           abs((CAST(r AS DOUBLE)
              - CAST(2 * n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) - 1.0)
           / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                  * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                     * CAST(n1 + n2 - 1 AS DOUBLE)))) < 1.96 AS random_at_5pct
    FROM runs
    """,
)
def q468_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST on each event type's daily counts — is
    the above/below-mean SIGN sequence random, the order-sensitive
    check that q465's Ljung-Box (linear autocorrelation) and q406's
    Durbin-Watson can both miss (a clustered-signs series with near-
    zero lag-1 ACF still fails the runs test). The sign never touches
    a float mean: day t is 'above' iff n·x_t > S (the q465 n-scaling
    trick), and exact-mean days are DROPPED — the standard ties
    treatment, applied identically in both engines. R = 1 + sign
    transitions via one per-type lag window (calendar-bounded
    partitions); z = (R − 2n₁n₂/N − 1) / √(2n₁n₂(2n₁n₂−N)/(N²(N−1)))
    is assembled from exact integers with one sqrt, compared to the
    two-sided normal 5%% literal 1.96. A stationary i.i.d. fixture
    should pass; the tests replay R and z in Python and then feed a
    deliberately alternating and a deliberately blocked sign sequence
    through the same formula to pin both rejection directions (too
    MANY runs is as non-random as too few)."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    daily = (
        ev.select("event_type", d.alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    signed = (
        daily.join(F.broadcast(m), "event_type")
        .where(F.col("n") * F.col("y") != F.col("s"))
        .select(
            "event_type",
            "d",
            F.when(F.col("n") * F.col("y") > F.col("s"), 1)
            .otherwise(0)
            .alias("sgn"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = (
        signed.withColumn("prev", F.lag("sgn").over(w))
        .groupBy("event_type")
        .agg(
            F.sum("sgn").cast("long").alias("n1"),
            F.sum(1 - F.col("sgn")).cast("long").alias("n2"),
            (
                1
                + F.sum(
                    F.when(F.col("sgn") != F.col("prev"), 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("r"),
        )
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    nd = (n1 + n2).cast("double")
    a = (2 * n1 * n2).cast("double")
    z = (r.cast("double") - a / nd - 1.0) / F.sqrt(
        a * (2 * n1 * n2 - n1 - n2).cast("double") / (nd * nd * (nd - 1.0))
    )
    return runs.select(
        "event_type", "n1", "n2", "r", z.alias("z"), (F.abs(z) < 1.96).alias("random_at_5pct")
    )


_FRIEDMAN_SJ = " + ".join(
    f"CAST(SUM(CASE WHEN dow = {j} THEN dsum END) AS DOUBLE)"
    f" * CAST(SUM(CASE WHEN dow = {j} THEN dsum END) AS DOUBLE) / 4"
    for j in range(7)
)


@query(
    "q469_friedman_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events
      WHERE CAST(ts AS DATE) - DATE '2024-01-01' >= 0
      GROUP BY 1
    ),
    wk AS (
      SELECT d // 7 AS blk, ((d % 7) + 7) % 7 AS dow, y FROM daily
    ),
    complete AS (
      SELECT blk FROM wk GROUP BY blk HAVING COUNT(*) = 7
    ),
    ranked AS (
      SELECT w.blk, w.dow, w.y,
             2 * RANK() OVER (PARTITION BY w.blk ORDER BY w.y)
               + COUNT(*) OVER (PARTITION BY w.blk, w.y) - 1 AS dr
      FROM wk w JOIN complete c ON c.blk = w.blk
    ),
    sums AS (
      SELECT dow, CAST(SUM(dr) AS BIGINT) AS dsum FROM ranked GROUP BY dow
    ),
    ties AS (
      SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tsum,
             CAST(COUNT(DISTINCT blk) AS BIGINT) AS b
      FROM (SELECT blk, y, CAST(COUNT(*) AS BIGINT) AS t
            FROM ranked GROUP BY blk, y)
    ),
    piv AS (
      SELECT CAST({_FRIEDMAN_SJ} AS DOUBLE) AS sj2, t.b, t.tsum
      FROM sums CROSS JOIN ties t GROUP BY t.b, t.tsum
    )
    SELECT b, CAST(7 AS BIGINT) AS k,
           12.0 * sj2 / (CAST(b AS DOUBLE) * 7.0 * 8.0)
             - 3.0 * CAST(b AS DOUBLE) * 8.0 AS chi2_f,
           CAST(b * 7 * 48 - tsum AS DOUBLE) / CAST(b * 7 * 48 AS DOUBLE)
             AS tie_c,
           (12.0 * sj2 / (CAST(b AS DOUBLE) * 7.0 * 8.0)
             - 3.0 * CAST(b AS DOUBLE) * 8.0)
           / (CAST(b * 7 * 48 - tsum AS DOUBLE) / CAST(b * 7 * 48 AS DOUBLE))
             AS chi2_adj,
           (12.0 * sj2 / (CAST(b AS DOUBLE) * 7.0 * 8.0)
             - 3.0 * CAST(b AS DOUBLE) * 8.0)
           / (CAST(b * 7 * 48 - tsum AS DOUBLE) / CAST(b * 7 * 48 AS DOUBLE))
             > 12.592 AS dow_effect_5pct
    FROM piv
    """,
)
def q469_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST — the blocked, rank-based ANOVA: does day-of-week
    shift daily event volume once WEEK-level drift is blocked out?
    Each complete calendar week is a block; its 7 days are ranked
    within the block (doubled midranks — q459's encoding at block
    scope, partitions of exactly 7 rows, so the rank windows are
    trivially parallel); χ²_F = 12·ΣR_j²/(bk(k+1)) − 3b(k+1) with the
    tie correction C = 1 − ΣT/(bk(k²−1)) (T = Σ(t³−t) per block),
    judged against the χ²(6) 5%% literal 12.592. This is the
    nonparametric counterpart of q374's eta-squared router and the
    BLOCKED counterpart of q460's Kruskal-Wallis — between-group vs
    repeated-measures is exactly the KW/Friedman split. All rank sums
    are exact integers (ΣR_j² carries as Σ(D_j/2)² = ΣD_j²/4 applied
    per pivoted term in literal dow order); day-of-week is the q292
    sign-safe pmod, never dayofweek(). Incomplete edge weeks are
    EXCLUDED (Friedman requires complete blocks) by an identical
    HAVING in both engines. One daily rollup, one 7-row-per-block
    rank, one 7-term fixed fold — calendar-bounded everywhere."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    daily = (
        ev.select(d.alias("d"))
        .where(F.col("d") >= 0)
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wk = daily.select(
        F.expr("d div 7").alias("blk"), F.pmod("d", F.lit(7)).alias("dow"), "y"
    )
    complete = wk.groupBy("blk").agg(F.count(F.lit(1)).alias("cnt")).where(
        F.col("cnt") == 7
    ).select("blk")
    blocked = wk.join(F.broadcast(complete), "blk")
    dr = (
        2 * F.rank().over(Window.partitionBy("blk").orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("blk", "y"))
        - 1
    )
    ranked = blocked.select("blk", "dow", "y", dr.cast("long").alias("dr"))
    sums = ranked.groupBy("dow").agg(F.sum("dr").cast("long").alias("dsum"))
    ties = (
        ranked.groupBy("blk", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tsum"),
            F.countDistinct("blk").cast("long").alias("b"),
        )
    )
    sj2 = None
    for j in range(7):
        term = (
            F.sum(F.when(F.col("dow") == j, F.col("dsum"))).cast("double")
            * F.sum(F.when(F.col("dow") == j, F.col("dsum"))).cast("double")
            / 4
        )
        sj2 = term if sj2 is None else sj2 + term
    piv = sums.crossJoin(F.broadcast(ties)).groupBy("b", "tsum").agg(
        sj2.cast("double").alias("sj2")
    )
    bd = F.col("b").cast("double")
    chi2 = 12.0 * F.col("sj2") / (bd * 7.0 * 8.0) - 3.0 * bd * 8.0
    tie_c = (F.col("b") * 7 * 48 - F.col("tsum")).cast("double") / (
        F.col("b") * 7 * 48
    ).cast("double")
    return piv.select(
        "b",
        F.lit(7).cast("long").alias("k"),
        chi2.alias("chi2_f"),
        tie_c.alias("tie_c"),
        (chi2 / tie_c).alias("chi2_adj"),
        (chi2 / tie_c > 12.592).alias("dow_effect_5pct"),
    )


@query(
    "q472_risk_coverage",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt,
             CAST(ts AS DATE) < DATE '2024-01-22' AS is_train
      FROM events
    ),
    trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE nxt IS NOT NULL AND is_train GROUP BY 1, 2
    ),
    pred AS (
      SELECT src, dst AS predicted, n AS n_max, tot
      FROM (SELECT src, dst, n,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY n DESC, dst) AS rn,
                   CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS tot
            FROM trans) WHERE rn = 1
    ),
    scored AS (
      SELECT t.src, p.predicted,
             CAST(p.n_max AS DOUBLE) / CAST(p.tot AS DOUBLE) AS conf,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN t.nxt = p.predicted THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_err
      FROM (SELECT event_type AS src, nxt
            FROM s WHERE nxt IS NOT NULL AND NOT is_train) t
      JOIN pred p ON p.src = t.src
      GROUP BY t.src, p.predicted, p.n_max, p.tot
    ),
    curve AS (
      SELECT src, predicted, conf, n_test, n_err,
             CAST(SUM(n_test) OVER w AS BIGINT) AS cum_n,
             CAST(SUM(n_err) OVER w AS BIGINT) AS cum_err,
             CAST(SUM(SUM(n_test)) OVER () AS BIGINT) AS total
      FROM scored
      GROUP BY src, predicted, conf, n_test, n_err
      WINDOW w AS (ORDER BY conf DESC, src
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT src, predicted, conf, n_test, n_err, cum_n, cum_err,
           CAST(cum_n * 1000000 // total AS BIGINT) AS coverage_ppm,
           CAST(cum_err * 1000000 // cum_n AS BIGINT) AS risk_ppm
    FROM curve
    """,
)
def q472_risk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RISK–COVERAGE CURVE (selective prediction / learning-to-defer)
    for q452's Markov next-event predictor: rank test examples by the
    model's CONFIDENCE (the argmax transition probability n_max/tot —
    one exact-integer division), then at each confidence level report
    what fraction of traffic the model would answer (coverage) and
    its error rate on that kept slice (risk) — the operating curve an
    abstention threshold is picked from, exactly q455's
    operating-point discipline applied to a MODEL instead of a
    linker. Train/predict replays q452's lineage verbatim (same
    temporal split, same argmax, same tiebreaks) so one hash checks
    both the model and the curve; per-source test errors aggregate
    exactly, the cumulative sums run over the ≤|states| curve points
    (a bounded window — the event log is touched once to build
    pairs), and risk/coverage ship in floor ppm. The confidence sort
    key is the lone double and both engines compute it as the SAME
    n_max/tot division with a src tiebreak. Tests replay the curve in
    Python and assert the structural invariants: coverage is
    monotone, the last point covers everything and reproduces q452's
    aggregate accuracy, and risk at full coverage ≥ risk at the
    highest-confidence point would FAIL for a well-calibrated model
    only by fixture accident — what must hold is the replay equality,
    so calibration itself is reported, not assumed. Contract note
    (round 9 densify sweep): test examples whose source never appears
    in training are FORCED abstention — the model has no prediction to
    sell — and are excluded from the curve and its coverage
    denominator by the q452-lineage contract (the inner join on src is
    that exclusion, stated here so it reads as contract, not leak)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        (F.to_date("ts") < F.lit("2024-01-22").cast("date")).alias("is_train"),
    ).where(F.col("nxt").isNotNull())
    trans = (
        s.where("is_train")
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rn = F.row_number().over(Window.partitionBy("src").orderBy(F.desc("n"), "dst"))
    tot = F.sum("n").over(Window.partitionBy("src"))
    pred = (
        trans.withColumn("tot", tot.cast("long"))
        .withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "src",
            F.col("dst").alias("predicted"),
            F.col("n").alias("n_max"),
            "tot",
        )
    )
    scored = (
        s.where(~F.col("is_train"))
        .select(F.col("event_type").alias("src"), "nxt")
        .join(F.broadcast(pred), "src")
        .groupBy(
            "src",
            "predicted",
            (F.col("n_max").cast("double") / F.col("tot").cast("double")).alias(
                "conf"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("nxt") == F.col("predicted"), 0).otherwise(1))
            .cast("long")
            .alias("n_err"),
        )
    )
    wc = Window.orderBy(F.desc("conf"), "src").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = scored.select(
        "src",
        "predicted",
        "conf",
        "n_test",
        "n_err",
        F.sum("n_test").over(wc).cast("long").alias("cum_n"),
        F.sum("n_err").over(wc).cast("long").alias("cum_err"),
    ).crossJoin(
        F.broadcast(
            scored.agg(F.sum("n_test").cast("long").alias("total"))
        )
    )
    return curve.select(
        "src",
        "predicted",
        "conf",
        "n_test",
        "n_err",
        "cum_n",
        "cum_err",
        F.expr("cum_n * 1000000 div total").cast("long").alias("coverage_ppm"),
        F.expr("cum_err * 1000000 div cum_n").cast("long").alias("risk_ppm"),
    )


@query(
    "q473_newsvendor",
    oracle="""
    WITH demand AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    dist AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM demand GROUP BY y
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM demand),
    qstar AS (
      SELECT MIN(y) AS q FROM dist CROSS JOIN n WHERE 4 * cum >= 3 * n_days
    )
    SELECT n.n_days, q.q AS q_star,
           CAST(SUM(3 * GREATEST(dd.y - (q.q - 1), 0)
                  + 1 * GREATEST((q.q - 1) - dd.y, 0)) AS BIGINT) AS cost_below,
           CAST(SUM(3 * GREATEST(dd.y - q.q, 0)
                  + 1 * GREATEST(q.q - dd.y, 0)) AS BIGINT) AS cost_at,
           CAST(SUM(3 * GREATEST(dd.y - (q.q + 1), 0)
                  + 1 * GREATEST((q.q + 1) - dd.y, 0)) AS BIGINT) AS cost_above,
           CAST(SUM(3 * GREATEST(dd.y - q.q, 0)
                  + 1 * GREATEST(q.q - dd.y, 0)) AS BIGINT)
             <= LEAST(
               CAST(SUM(3 * GREATEST(dd.y - (q.q - 1), 0)
                      + 1 * GREATEST((q.q - 1) - dd.y, 0)) AS BIGINT),
               CAST(SUM(3 * GREATEST(dd.y - (q.q + 1), 0)
                      + 1 * GREATEST((q.q + 1) - dd.y, 0)) AS BIGINT))
             AS is_optimal
    FROM demand dd CROSS JOIN qstar q CROSS JOIN n
    GROUP BY n.n_days, q.q
    """,
)
def q473_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWSVENDOR STOCKING LEVEL with its optimality PROVED on the data —
    the one-period inventory theorem (Arrow-Harris-Marschak): with
    underage cost c_u=3 and overage c_o=1, the optimal stock Q* is the
    smallest level whose empirical demand CDF reaches the critical
    ratio c_u/(c_u+c_o) = 3/4, found by a cross-multiplied integer
    comparison (4·cum ≥ 3·n — no float quantile, the q93 discipline).
    The theorem then gets the q415/q447 treatment — don't cite it,
    EVALUATE it: the exact empirical cost Σ 3·(d−Q)⁺ + (Q−d)⁺ is
    computed at Q*−1, Q*, Q*+1, and `is_optimal` asserts the discrete
    first-order condition (cost at Q* no worse than both neighbors —
    for discrete demand the left neighbor can TIE when the CDF hits
    exactly 3/4, which is why it's ≤, not <). Demand = daily purchase
    counts; the distinct-value CDF is a tiny window over ≤|support|
    rows (the q422 distinct-value compression); the three cost sums
    are one pass over days against the broadcast scalar Q*. Tests
    replay Q* and the cost curve in Python and additionally check
    GLOBAL optimality by brute force over the full support, which the
    neighbor condition implies only for convex (i.e., all) newsvendor
    cost curves — so the brute force also pins the convexity."""
    ev = load(spark, sf_dir, "events")
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    demand = (
        ev.where(F.col("event_type") == "purchase")
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    dist = (
        demand.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn(
            "cum",
            F.sum("c")
            .over(
                Window.orderBy("y").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .cast("long"),
        )
    )
    n = demand.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    qstar = (
        dist.crossJoin(F.broadcast(n))
        .where(4 * F.col("cum") >= 3 * F.col("n_days"))
        .agg(F.min("y").alias("q"))
    )

    def cost(q_expr):
        return F.sum(
            3 * F.greatest(F.col("y") - q_expr, F.lit(0).cast("long"))
            + F.greatest(q_expr - F.col("y"), F.lit(0).cast("long"))
        ).cast("long")

    qq = F.col("q")
    return (
        demand.crossJoin(F.broadcast(qstar))
        .crossJoin(F.broadcast(n))
        .groupBy("n_days", qq.alias("q_star"))
        .agg(
            cost(qq - 1).alias("cost_below"),
            cost(qq).alias("cost_at"),
            cost(qq + 1).alias("cost_above"),
        )
        .select(
            "n_days",
            "q_star",
            "cost_below",
            "cost_at",
            "cost_above",
            (
                F.col("cost_at")
                <= F.least(F.col("cost_below"), F.col("cost_above"))
            ).alias("is_optimal"),
        )
    )


_ATTR_SCALE = 1 << 20
_ATTR_T = 12
_ATTR_CHANNELS = ["click", "error", "signup", "view"]


def _attr_journey_sql() -> str:
    """Shared journey → transition-count construction: per user, events
    ordered by (ts, event_id), truncated at the FIRST purchase; absorbing
    dst 'C' = first purchase, 'N' = journey end without one; synthetic
    source '__start__' feeds each user's first step."""
    return """
    seq AS MATERIALIZED (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    fp AS MATERIALIZED (
      SELECT user_id, MIN(rn) AS fpr FROM seq
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    hops AS MATERIALIZED (
      SELECT s.event_type AS src,
             CASE WHEN s.nxt IS NULL THEN 'N'
                  WHEN s.nxt = 'purchase' THEN 'C'
                  ELSE s.nxt END AS dst
      FROM seq s LEFT JOIN fp ON fp.user_id = s.user_id
      WHERE s.event_type <> 'purchase'
        AND (fp.fpr IS NULL OR s.rn < fp.fpr)
      UNION ALL
      SELECT '__start__',
             CASE WHEN event_type = 'purchase' THEN 'C' ELSE event_type END
      FROM seq WHERE rn = 1
    ),
    o AS MATERIALIZED (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM hops GROUP BY 1, 2
    ),
    rs AS MATERIALIZED (SELECT src, CAST(SUM(n) AS BIGINT) AS rn FROM o GROUP BY src)
    """


def _attr_oracle() -> str:
    chans = ", ".join(f"('{c}')" for c in _ATTR_CHANNELS)
    parts = [
        f"""
    WITH {_attr_journey_sql().strip()},
    scen AS MATERIALIZED (
      SELECT * FROM (VALUES ('base'), {chans}) s(removed)
    ),
    p AS MATERIALIZED (
      SELECT sc.removed, o.src, o.dst,
             o.n * {_ATTR_SCALE} // rs.rn AS p_fx
      FROM o JOIN rs ON rs.src = o.src CROSS JOIN scen sc
      WHERE sc.removed = 'base'
         OR (o.src <> sc.removed AND o.dst <> sc.removed)
    ),
    states AS MATERIALIZED (
      SELECT DISTINCT removed, src AS state FROM p
    ),
    cterm AS MATERIALIZED (
      SELECT s.removed, s.state,
             COALESCE((SELECT p.p_fx FROM p
                       WHERE p.removed = s.removed AND p.src = s.state
                         AND p.dst = 'C'), 0) AS c_fx
      FROM states s
    ),
    v0 AS MATERIALIZED (
      SELECT removed, state, CAST(0 AS BIGINT) AS v FROM states
    )"""
    ]
    for t in range(1, _ATTR_T + 1):
        parts.append(
            f""",
    v{t} AS MATERIALIZED (
      SELECT ct.removed, ct.state,
             ((SELECT COALESCE(SUM(p.p_fx * v.v), 0)
               FROM p JOIN v{t - 1} v
                 ON v.removed = p.removed AND v.state = p.dst
               WHERE p.removed = ct.removed AND p.src = ct.state)
              + ct.c_fx * {_ATTR_SCALE}) // {_ATTR_SCALE} AS v
      FROM cterm ct
    )"""
        )
    parts.append(
        f""",
    conv AS (
      SELECT removed, v AS conv_fx FROM v{_ATTR_T}
      WHERE state = '__start__'
    ),
    eff AS (
      SELECT c.removed AS channel,
             b.conv_fx AS base_conv_fx,
             c.conv_fx AS removed_conv_fx,
             b.conv_fx - c.conv_fx AS removal_effect_fx
      FROM conv c CROSS JOIN (SELECT conv_fx FROM conv
                              WHERE removed = 'base') b
      WHERE c.removed <> 'base'
    )
    SELECT channel, CAST(base_conv_fx AS BIGINT) AS base_conv_fx,
           CAST(removed_conv_fx AS BIGINT) AS removed_conv_fx,
           CAST(removal_effect_fx AS BIGINT) AS removal_effect_fx,
           CAST(GREATEST(0, removal_effect_fx) * 1000000
                // NULLIF((SELECT SUM(GREATEST(0, removal_effect_fx))
                           FROM eff), 0) AS BIGINT)
             AS share_ppm
    FROM eff"""
    )
    return "".join(parts)


@query("q474_markov_attribution", oracle=_attr_oracle())
def q474_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    data-driven alternative to q205's linear and q258's time-decay
    rules: model user journeys (events per user, truncated at first
    purchase, absorbing at conversion C or journey-end N) as a Markov
    chain, and credit each channel by how much the 12-step conversion
    probability from __start__ DROPS when that channel is removed
    (its transitions redirected to null — mass lost, NOT
    renormalized, the standard removal semantics). Numerics are
    q437's exact fixed-point discipline end-to-end: probabilities in
    2^20 units with floor at the row normalize, value-iteration
    sweeps with ONE floor per sweep, so all five chains (base + four
    removals) replay bit-for-bit in the unrolled-CTE oracle. All
    scenarios fold into ONE scenario-tagged matrix (≤5·|states|²
    rows), so the sweep loop runs once, not per channel; the only
    event-log passes build the journey hops. Credit shares ship in
    floor ppm of the total removal effect. Tests replay journeys and
    sweeps in numpy-free Python, assert every removal strictly hurts
    (removal_effect > 0 — every channel carries some converting
    traffic in this fixture), and cross-check the base chain's
    conversion against the EMPIRICAL fraction of converting users
    (the model is fit on exactly those journeys; horizon-12 ≤
    empirical absorption, approaching it from below)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    fp = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fpr"))
    )
    mid = (
        seq.join(fp, "user_id", "left")
        .where(
            (F.col("event_type") != "purchase")
            & (F.col("fpr").isNull() | (F.col("rn") < F.col("fpr")))
        )
        .select(
            F.col("event_type").alias("src"),
            F.when(F.col("nxt").isNull(), "N")
            .when(F.col("nxt") == "purchase", "C")
            .otherwise(F.col("nxt"))
            .alias("dst"),
        )
    )
    first = seq.where(F.col("rn") == 1).select(
        F.lit("__start__").alias("src"),
        F.when(F.col("event_type") == "purchase", "C")
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    o = mid.unionAll(first).groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rs = o.groupBy("src").agg(F.sum("n").cast("long").alias("rn"))
    scen = spark.createDataFrame(
        [("base",)] + [(c,) for c in _ATTR_CHANNELS], "removed string"
    )
    p = (
        o.join(rs, "src")
        .crossJoin(F.broadcast(scen))
        .where(
            (F.col("removed") == "base")
            | (
                (F.col("src") != F.col("removed"))
                & (F.col("dst") != F.col("removed"))
            )
        )
        .select(
            "removed", "src", "dst", F.expr(f"n * {_ATTR_SCALE} div rn").alias("p_fx")
        )
        .localCheckpoint(eager=True)
    )
    states = p.select("removed", F.col("src").alias("state")).distinct()
    cterm = (
        states.join(
            p.where(F.col("dst") == "C").select(
                "removed", F.col("src").alias("state"), F.col("p_fx").alias("c_fx")
            ),
            ["removed", "state"],
            "left",
        )
        .select(
            "removed", "state", F.coalesce("c_fx", F.lit(0)).cast("long").alias("c_fx")
        )
        .localCheckpoint(eager=True)
    )
    v = cterm.select("removed", "state", F.lit(0).cast("long").alias("v"))
    for _ in range(_ATTR_T):
        pv = (
            p.join(
                v,
                (p.removed == v.removed) & (p.dst == v.state),
            )
            .groupBy(p.removed.alias("removed"), p.src.alias("state"))
            .agg(F.sum(F.col("p_fx") * F.col("v")).alias("pv"))
        )
        v = (
            cterm.join(pv, ["removed", "state"], "left")
            .select(
                "removed",
                "state",
                F.expr(
                    f"(coalesce(pv, 0) + c_fx * {_ATTR_SCALE}) div {_ATTR_SCALE}"
                )
                .cast("long")
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
    conv = v.where(F.col("state") == "__start__").select(
        "removed", F.col("v").alias("conv_fx")
    )
    base = conv.where(F.col("removed") == "base").select(
        F.col("conv_fx").alias("base_conv_fx")
    )
    eff = (
        conv.where(F.col("removed") != "base")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("removed").alias("channel"),
            "base_conv_fx",
            F.col("conv_fx").alias("removed_conv_fx"),
            (F.col("base_conv_fx") - F.col("conv_fx")).alias(
                "removal_effect_fx"
            ),
        )
    )
    # share_ppm clamps negatives to 0 on BOTH sides of the division
    # (ADVICE r6): Spark's `div` truncates toward zero while DuckDB's
    # `//` floors, so the two agree only on non-negative operands —
    # removal effects are non-negative on any sane fixture, but the
    # parity must hold by construction, not by data accident. NULLIF
    # guards the all-zero denominator the same way in both engines.
    tot = eff.agg(
        F.sum(F.greatest(F.lit(0), F.col("removal_effect_fx")))
        .cast("long")
        .alias("tot_fx")
    )
    return eff.crossJoin(F.broadcast(tot)).select(
        "channel",
        "base_conv_fx",
        "removed_conv_fx",
        "removal_effect_fx",
        F.expr("greatest(0L, removal_effect_fx) * 1000000 div nullif(tot_fx, 0)")
        .cast("long")
        .alias("share_ppm"),
    )


@query(
    "q477_sequential_patterns",
    oracle="""
    WITH pos AS (
      SELECT user_id, event_type,
             CAST(MIN(rn) AS BIGINT) AS fpos,
             CAST(MAX(rn) AS BIGINT) AS lpos
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events)
      GROUP BY user_id, event_type
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM pos),
    singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS supp FROM pos GROUP BY 1
    ),
    pat AS (
      SELECT a.event_type AS a, b.event_type AS b,
             CAST(SUM(CASE WHEN a.fpos < b.lpos THEN 1 ELSE 0 END) AS BIGINT)
               AS supp_ab
      FROM pos a JOIN pos b ON b.user_id = a.user_id
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.a, p.b, n.n_users,
           sa.supp AS supp_a, sb.supp AS supp_b, p.supp_ab,
           CAST(p.supp_ab * n.n_users * 1000000 // (sa.supp * sb.supp)
                AS BIGINT) AS lift_ppm
    FROM pat p
    JOIN singles sa ON sa.event_type = p.a
    JOIN singles sb ON sb.event_type = p.b
    CROSS JOIN n
    """,
)
def q477_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING, length-2 gap-allowed (the GSP/
    PrefixSpan base case): for every ordered type pair ⟨a → … → b⟩,
    how many users exhibit a STRICTLY EARLIER a than some later b —
    order-sensitive co-occurrence, which q122's unordered lift cannot
    see and q237's regex CEP only answers for one hand-written
    pattern. The containment test never scans the sequence: user u
    supports ⟨a,b⟩ iff first_pos(a) < last_pos(b) (for a=b this
    collapses to 'a occurs twice'), so the whole miner is one
    (user, type) min/max-position aggregate — per-user state is
    |types| numbers, the 25-pattern fan-out is a per-user self-join
    on that tiny profile, and nothing downstream touches the event
    log again: linear at any scale, the q287-style entity-bounded
    argument without even the sequence string. Lift against the
    independence baseline supp_a·supp_b/n ships in floor ppm (exact
    cross-multiplied integers). Tests replay containment per user in
    Python, assert the a=b diagonal equals the 'occurs ≥2' count, and
    pin the antisymmetry identity supp(a,b) + supp(b,a) ≥ supp_both
    (every co-occurring pair is ordered at least one way — with
    equality impossible whenever some user interleaves both
    directions)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .groupBy("user_id", "event_type")
        .agg(
            F.min("rn").cast("long").alias("fpos"),
            F.max("rn").cast("long").alias("lpos"),
        )
    )
    # (user x type)-row profile read by the user count, the singles
    # support, and both self-join legs — checkpoint so the event-log
    # scan + position window run once (r11 fact-rescan audit: 5 -> 1)
    pos = pos.localCheckpoint(eager=False)
    n = pos.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    singles = pos.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("supp")
    )
    a = pos.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("a"), "fpos"
    )
    b = pos.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("b"), "lpos"
    )
    pat = (
        a.join(b, "u")
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("fpos") < F.col("lpos"), 1).otherwise(0))
            .cast("long")
            .alias("supp_ab")
        )
    )
    sa = singles.select(F.col("event_type").alias("a"), F.col("supp").alias("supp_a"))
    sb = singles.select(F.col("event_type").alias("b"), F.col("supp").alias("supp_b"))
    return (
        pat.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "n_users",
            "supp_a",
            "supp_b",
            "supp_ab",
            F.expr("supp_ab * n_users * 1000000 div (supp_a * supp_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )


@query(
    "q483_subsequence_patterns_3",
    oracle="""
    WITH coded AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ),
    syms AS (SELECT DISTINCT substr(event_type, 1, 1) AS s FROM events),
    pats AS (
      SELECT a.s AS a, b.s AS b, c.s AS c FROM syms a, syms b, syms c
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM coded),
    sup AS (
      SELECT p.a, p.b, p.c,
             CAST(SUM(CASE WHEN regexp_matches(d.seq,
                    p.a || '.*' || p.b || '.*' || p.c)
                  THEN 1 ELSE 0 END) AS BIGINT) AS supp3,
             CAST(SUM(CASE WHEN regexp_matches(d.seq, p.a || '.*' || p.b)
                  THEN 1 ELSE 0 END) AS BIGINT) AS supp_ab,
             CAST(SUM(CASE WHEN regexp_matches(d.seq, p.b || '.*' || p.c)
                  THEN 1 ELSE 0 END) AS BIGINT) AS supp_bc
      FROM pats p CROSS JOIN coded d
      GROUP BY p.a, p.b, p.c
    )
    SELECT a, b, c, n_users, supp3, supp_ab, supp_bc,
           CAST(supp3 * 1000000 // n_users AS BIGINT) AS supp3_ppm,
           supp3 <= LEAST(supp_ab, supp_bc) AS apriori_ok
    FROM sup CROSS JOIN n
    """,
)
def q483_subsequence_patterns_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-3 SEQUENTIAL PATTERNS ⟨a→…→b→…→c⟩ — GSP's next level over
    q477's pairs, with the level-generating theorem carried AS A
    COLUMN: gap-allowed subsequence containment is exactly the regex
    'a.*b.*c' on the coded behavior string (q237's one-char codes —
    greedy .* is precisely 'exists i<j<k', and the 5-letter alphabet
    keeps the pattern in the common regex subset both engines
    interpret identically; Spark's rlike takes the pattern as a
    COLUMN, so all 125 patterns run through one broadcast fan-out, no
    per-pattern plans). `apriori_ok` asserts anti-monotonicity
    supp⟨abc⟩ ≤ min(supp⟨ab⟩, supp⟨bc⟩) — the pruning inequality that
    makes level-wise sequence mining tractable, verified on every
    triple (its sub-pattern supports use the same regex semantics, so
    q477's first/last-position counts agree — the tests cross-check).
    Per-user state is one retention-bounded string; the pattern
    table is |Σ|³ literal rows broadcast against it; the event log is
    touched once to build strings — the q287 scaling argument. At
    real alphabet sizes the pattern table comes from the previous
    level's survivors (Apriori candidate generation), not the full
    cube — the column proves WHY that pruning is sound."""
    ev = load(spark, sf_dir, "events")
    coded = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
                        )
                    )
                ),
                lambda st: st["ch"],
            ),
        ).alias("seq")
    )
    # per-user sequence strings read by the user count and the pattern
    # fan-out; the alphabet legs each re-scanned events too — one
    # checkpoint each and the log is touched once (r11 fact-rescan
    # audit: 5 scans -> 2)
    coded = coded.localCheckpoint(eager=False)
    syms = (
        ev.select(F.substring("event_type", 1, 1).alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    pats = (
        syms.select(F.col("s").alias("a"))
        .crossJoin(syms.select(F.col("s").alias("b")))
        .crossJoin(syms.select(F.col("s").alias("c")))
    )
    n = coded.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    hit = lambda pat: F.sum(  # noqa: E731
        F.when(F.rlike(F.col("seq"), pat), 1).otherwise(0)
    ).cast("long")
    sup = (
        F.broadcast(pats)
        .crossJoin(coded)
        .groupBy("a", "b", "c")
        .agg(
            hit(F.concat("a", F.lit(".*"), "b", F.lit(".*"), "c")).alias("supp3"),
            hit(F.concat("a", F.lit(".*"), "b")).alias("supp_ab"),
            hit(F.concat("b", F.lit(".*"), "c")).alias("supp_bc"),
        )
    )
    return sup.crossJoin(F.broadcast(n)).select(
        "a",
        "b",
        "c",
        "n_users",
        "supp3",
        "supp_ab",
        "supp_bc",
        F.expr("supp3 * 1000000 div n_users").cast("long").alias("supp3_ppm"),
        (F.col("supp3") <= F.least("supp_ab", "supp_bc")).alias("apriori_ok"),
    )


@query(
    "q485_weighted_jaccard",
    oracle="""
    WITH prof AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS w
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(LEAST(COALESCE(a.w, 0), COALESCE(b.w, 0))) AS BIGINT)
               AS sum_min,
             CAST(SUM(GREATEST(COALESCE(a.w, 0), COALESCE(b.w, 0))) AS BIGINT)
               AS sum_max
      FROM prof a FULL OUTER JOIN prof b
        ON b.user_id = a.user_id
      WHERE a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, sum_min, sum_max,
           CAST(sum_min * 1000000 // sum_max AS BIGINT) AS wjaccard_ppm
    FROM pairs
    """,
)
def q485_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED JACCARD between event-type USER PROFILES — J_W(a,b) =
    Σ_u min(w_a(u), w_b(u)) / Σ_u max(w_a(u), w_b(u)) over per-user
    event counts: the multiset generalization of q155's set overlap
    (binary membership says click and view audiences are identical;
    the WEIGHTED form sees that one user clicks 40× and views twice).
    Exact integers end-to-end with one floor-ppm division. A subtlety
    the test pins: because both profiles live on the SAME user
    universe here, every user appears on both sides of the
    full-outer join (inner ≡ outer on this fixture) — but the
    full-outer form is the correct general contract, since a user
    absent from profile b contributes w_a to max and 0 to min, and
    dropping those rows would INFLATE similarity. Scale: the join is
    user-keyed and co-partitioned with the profile aggregate (one
    exchange), per-pair state is two bigints; the sketch path at
    100 TB is ICWS/BagMinHash consistent weighted sampling — the
    q43-style banded candidate generator for multisets, documented
    here as the substitution."""
    prof = load(spark, sf_dir, "events").groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    a = prof.select(
        F.col("event_type").alias("type_a"),
        F.col("user_id").alias("ua"),
        F.col("w").alias("wa"),
    )
    b = prof.select(
        F.col("event_type").alias("type_b"),
        F.col("user_id").alias("ub"),
        F.col("w").alias("wb"),
    )
    pairs = (
        a.join(b, a.ua == b.ub, "full_outer")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.least(F.coalesce("wa", F.lit(0)), F.coalesce("wb", F.lit(0)))
            )
            .cast("long")
            .alias("sum_min"),
            F.sum(
                F.greatest(
                    F.coalesce("wa", F.lit(0)), F.coalesce("wb", F.lit(0))
                )
            )
            .cast("long")
            .alias("sum_max"),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        "sum_min",
        "sum_max",
        F.expr("sum_min * 1000000 div sum_max").cast("long").alias("wjaccard_ppm"),
    )
