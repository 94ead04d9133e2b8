"""Join operators (SURVEY.md §2.3 J1–J11) re-expressed over the star schema.

Scale notes baked into each query:
- dimension joins broadcast (nation/region/supplier are tiny even at 100 TB);
- fact-fact joins shuffle on the join key and rely on AQE for skew;
- the as-of join uses the union+single-window trick (operators/asof.py) —
  one shuffle, no per-key row explosion;
- anti/semi joins are real LEFT ANTI / LEFT SEMI (no distinct-then-join).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DEC = "decimal(18,2)"


@query(
    "q11_dim_enrich_join",
    oracle="""
    SELECT
      r.r_name AS region_name,
      n.n_name AS nation_name,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q11_dim_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → dim enrichment chain (J3: the reference's dict-lookup joins to
    dim_teams, e.g. gold/game_predictions_features.py:244-259). Both dims
    broadcast — zero shuffle on the dimension side at any scale."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "q12_inner_join_revenue",
    oracle="""
    SELECT
      o.o_orderstatus,
      CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q12_inner_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact inner join (J2: lines ⋈ games with both sides required,
    gold/market_lines_analysis.py:52-94). Partial aggregation is pushed
    BELOW the join: lineitem pre-aggregates per orderkey (decimal sums
    are exact, so two-phase totals equal one-phase totals bit-for-bit),
    then the join shuffles one row per order instead of one per line and
    the count-distinct expand runs on the reduced side. Both shuffles
    hash on orderkey, so the join reuses the pre-agg's Exchange. AQE
    handles residual skew at scale."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("order_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_orderkey").cast("bigint").alias("n_orders"),
            F.sum("order_rev").cast("double").alias("revenue"),
        )
    )


@query(
    "q13_first_match_join",
    oracle="""
    SELECT
      CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
      o.o_orderstatus,
      CAST(f.l_partkey AS BIGINT) AS first_partkey,
      CAST(f.l_quantity AS DOUBLE) AS first_quantity
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey, l_partkey, l_quantity,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
             ) AS rn
      FROM lineitem
    ) f ON f.l_orderkey = o.o_orderkey AND f.rn = 1
    """,
)
def q13_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins left join (J1: the reference keeps the first lines
    provider per game, gold/game_predictions_features.py:262-290). The
    'first' side is reduced to one row per key with a deterministic
    row_number BEFORE the join — never dedup after joining."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the test data — the full
    # tiebreak makes "first" deterministic (SURVEY.md §7 hard-point 6: the
    # reference's first-occurrence dedup is arrival-ordered; distributed
    # execution needs an explicit total order instead).
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    first = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_partkey").cast("bigint").alias("first_partkey"),
            F.col("l_quantity").cast("double").alias("first_quantity"),
        )
    )
    return o.join(first, o.o_orderkey == first.l_orderkey, "left").select(
        F.col("o_orderkey").cast("bigint"),
        "o_orderstatus",
        "first_partkey",
        "first_quantity",
    )


@query(
    "q14_anti_join_gaps",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q14_anti_join_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — gap discovery (J7/D5: the reference's missing-fanout
    detection, gap_fill.py:79-171, done there as Athena SQL + a Python set
    difference). LEFT ANTI keeps everything distributed."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").cast("bigint"), "c_name", "c_mktsegment"
    )


@query(
    "q15_semi_join",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
        AND o.o_totalprice > 2000
    )
    """,
)
def q15_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join via key membership (J9/P5: `gid in d1_game_ids`,
    gold/adjusted_efficiencies.py:371-373 — a Python set there, a distributed
    LEFT SEMI here; Catalyst broadcasts the filtered side when small)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "2000-01-01") & (F.col("o_totalprice") > 2000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast("bigint"), "c_mktsegment"
    )


@query(
    "q16_self_join_opponent",
    oracle="""
    WITH totals AS (
      SELECT l_orderkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS order_qty,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT
      CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
      CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
      CAST(l.l_quantity AS DOUBLE) AS own_qty,
      CAST(t.order_qty - CAST(l.l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS others_qty,
      CAST(t.n_lines - 1 AS BIGINT) AS n_other_lines
    FROM lineitem l
    JOIN totals t ON t.l_orderkey = l.l_orderkey
    WHERE l.l_orderkey % 100 = 0
    """,
)
def q16_self_join_opponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opponent/self join (J6: team-game row joined to the other team's row
    of the same game, build_pbp_game_teams_flat.py:258-296). Expressed as
    group-total-minus-self via a window — one shuffle instead of the naive
    self-join's two, and no duplicate-row blowup."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    w = Window.partitionBy("l_orderkey")
    qty_dec = F.col("l_quantity").cast(DEC)
    return li.select(
        F.col("l_orderkey").cast("bigint"),
        F.col("l_linenumber").cast("bigint"),
        F.col("l_quantity").cast("double").alias("own_qty"),
        (F.sum(qty_dec).over(w) - qty_dec).cast("double").alias("others_qty"),
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("n_other_lines"),
    )


@query(
    "q17_asof_join",
    oracle="""
    SELECT
      CAST(p.event_id AS BIGINT) AS event_id,
      CAST(p.user_id AS BIGINT) AS user_id,
      epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts,
      CAST(s.value AS DOUBLE) AS last_signup_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND CAST(p.ts AS TIMESTAMP) > CAST(s.ts AS TIMESTAMP)
    """,
)
def q17_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (J8: most recent rating strictly before each
    game, backtest_spreads.py:87-152). Uses the union+window operator —
    DuckDB's native ASOF JOIN is the oracle."""
    from hoops_edge_database_etl_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts", F.col("value").alias("last_signup_value"))
    )
    joined = asof_join(
        purchases,
        signups,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_signup_value"],
        strict=True,
    )
    return joined.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.unix_micros("ts").alias("purchase_ts"),
        F.col("last_signup_value").cast("double"),
    )


@query(
    "q18_fuzzy_name_join",
    oracle="""
    WITH seg_dim AS (
      SELECT DISTINCT
        concat(upper(substr(c_mktsegment, 1, 1)), lower(substr(c_mktsegment, 2))) AS segment_label
      FROM customer
    )
    SELECT
      d.segment_label,
      CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN seg_dim d ON lower(c.c_mktsegment) = lower(d.segment_label)
    GROUP BY d.segment_label
    """,
)
def q18_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive name join (J10: recruiting committedTo school name →
    teamId via lowercase match, gold/team_season_summary.py:323-351). The
    normalized key is computed BEFORE the join so it stays an equi-join
    (hashable, broadcastable) rather than a theta join."""
    c = load(spark, sf_dir, "customer")
    seg_dim = c.select(F.initcap(F.lower("c_mktsegment")).alias("segment_label")).distinct()
    return (
        c.join(
            F.broadcast(seg_dim),
            F.lower(c.c_mktsegment) == F.lower(seg_dim.segment_label),
        )
        .groupBy("segment_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@query(
    "q19_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem->part' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    """,
)
def q19_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit via spark.sql (J11: the reference's Athena
    validation corpus, scripts/sql/bronze_silver_validation_queries.sql:206-224
    — the SQL runs verbatim through Catalyst)."""
    from hoops_edge_database_etl_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'orders->customer' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'lineitem->part' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        """
    )


@query(
    "q20_two_sided_expansion",
    oracle="""
    SELECT side, CAST(entity_key AS BIGINT) AS entity_key,
           CAST(SUM(CAST(signed_price AS DECIMAL(18,2))) AS DOUBLE) AS signed_total,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM (
      SELECT 'part' AS side, l_partkey AS entity_key, l_extendedprice AS signed_price FROM lineitem
      UNION ALL
      SELECT 'supplier' AS side, l_suppkey AS entity_key, -l_extendedprice AS signed_price FROM lineitem
    )
    GROUP BY side, entity_key
    HAVING COUNT(*) >= 30
    """,
)
def q20_two_sided_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-rows-per-fact expansion (J5: home-view/away-view rows per game
    with the spread sign-flip for the away side,
    gold/game_predictions_features.py:64-165). Implemented as
    explode(array(struct..)) — one pass over the fact, no self-union scan."""
    li = load(spark, sf_dir, "lineitem")
    exploded = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("part").alias("side"),
                    F.col("l_partkey").alias("entity_key"),
                    F.col("l_extendedprice").alias("signed_price"),
                ),
                F.struct(
                    F.lit("supplier").alias("side"),
                    F.col("l_suppkey").alias("entity_key"),
                    (-F.col("l_extendedprice")).alias("signed_price"),
                ),
            )
        ).alias("v")
    ).select("v.side", "v.entity_key", "v.signed_price")
    return (
        exploded.groupBy("side", F.col("entity_key").cast("bigint").alias("entity_key"))
        .agg(
            F.sum(F.col("signed_price").cast(DEC)).cast("double").alias("signed_total"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .filter(F.col("n_lines") >= 30)
    )


@query(
    "q65_range_join",
    oracle="""
    SELECT CAST(o.o_orderkey AS BIGINT) AS interval_key,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 500 = 0
    GROUP BY 1
    """,
)
def q65_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join with NO equi-key: ship events
    falling inside sampled 7-day order windows. A conditional-only join
    here would plan BroadcastNestedLoopJoin — O(|P|·|I|) comparisons;
    operators/rangejoin.py turns it into an ordinary equi hash join on a
    bin key plus a residual filter (asserted in test_plans: the physical
    plan contains no nested-loop or cartesian operator). Axis = epoch-day
    integers (exact); bin width 7 = the interval length, so each interval
    lands in ≤ 2 bins."""
    from hoops_edge_database_etl_spark.operators.rangejoin import range_join

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    points = li.select(
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01").cast("date")).alias("p_day"),
        F.col("l_quantity"),
    )
    intervals = o.filter(F.col("o_orderkey") % 500 == 0).select(
        F.col("o_orderkey").alias("interval_key"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("lo_day"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) + 6
        ).alias("hi_day"),
    )
    joined = range_join(points, intervals, "p_day", "lo_day", "hi_day", bin_width=7)
    return joined.groupBy("interval_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )


_SKEW_ORACLE = """
    WITH l AS (
      SELECT CASE WHEN l_orderkey % 20 = 0 THEN l_orderkey % 331 ELSE 0 END AS k,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v
      FROM lineitem
    ),
    r AS (SELECT p_partkey % 331 AS k, CAST(p_retailprice AS DECIMAL(18,2)) AS r FROM part)
    SELECT CAST(l.k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(l.v * r.r) AS VARCHAR) AS DOUBLE) AS rev
    FROM l JOIN r ON l.k = r.k
    GROUP BY l.k
"""


def _skew_inputs(spark: SparkSession, sf_dir: str):
    """Deliberately skewed join inputs: ~95% of lineitem rows collapse to
    hot key 0, the rest spread over 331 keys; part supplies ~|part|/331
    matches per key, so the hot key's join output is |part|/331 × 0.95·|L|
    rows — all on ONE reducer unless salted."""
    li = load(spark, sf_dir, "lineitem")
    left = li.select(
        F.when(F.col("l_orderkey") % 20 == 0, F.col("l_orderkey") % 331)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("k"),
        F.col("l_extendedprice").cast(DEC).alias("v"),
    )
    p = load(spark, sf_dir, "part")
    right = p.select(
        (F.col("p_partkey") % 331).cast("long").alias("k"),
        F.col("p_retailprice").cast(DEC).alias("r"),
    )
    return left, right


def _skew_agg(j: DataFrame) -> DataFrame:
    return j.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("v") * F.col("r")).cast("string").cast("double").alias("rev"),
    )


@query("q87_skew_join_salted", oracle=_SKEW_ORACLE)
def q87_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact×dim join THROUGH operators.skew.salted_join: the 95%
    hot key is spread over 32 salted sub-keys, so its join output (the
    expensive part — ~20 output rows per input row) is produced by 32
    reducers in parallel. q88 is the identical query without salting —
    the BENCH delta between them is the operator's reason to exist. AQE's
    skew-join split does not fire here at test scale (partitions are far
    below spark.sql.adaptive.skewJoin thresholds) and at any scale cannot
    split a hash-aggregate's hot group — salting is the declarative fix.
    The merge hint pins both variants to sort-merge (no broadcast), so
    the comparison isolates the salt."""
    from hoops_edge_database_etl_spark.operators.skew import salted_join

    left, right = _skew_inputs(spark, sf_dir)
    j = salted_join(left, right.hint("merge"), ["k"], n_salts=32, how="inner")
    return _skew_agg(j)


@query("q88_skew_join_unsalted", oracle=_SKEW_ORACLE)
def q88_skew_join_unsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control for q87: the same skewed join with no salt — one reducer
    owns the hot key's entire join fan-out. Correct at any scale, slow in
    proportion to the skew; exists so BENCH records the delta."""
    left, right = _skew_inputs(spark, sf_dir)
    return _skew_agg(left.join(right.hint("merge"), "k"))


_BLOOM_BITS = 1 << 16  # 65536-bit filter = 1024 int64 words


def _bloom_pos(key: F.Column, i: int) -> F.Column:
    """Deterministic bit position i for a key: md5-derived 60-bit value
    mod the filter width (md5 in both engines — cross-checkable)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f":b{i}"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % _BLOOM_BITS


@query(
    "q81_bloom_semi_join",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q81_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join with a DISTRIBUTED BLOOM PRE-FILTER — the runtime-filter
    pattern (Spark's own InjectRuntimeFilter, here as an explicit
    operator): the orders key set is folded into a 64 Kbit bloom filter
    built as a 1024-row (word, bits) DataFrame via bit_or aggregation —
    one tiny mergeable shuffle — then BROADCAST; customers probe it with
    two word-joins and only survivors reach the exact LEFT SEMI join.
    False positives are removed by that final semi join, so the result
    is exactly the plain semi join (the oracle); the bloom's job is to
    cut the candidate side's shuffle volume at 100 TB by the filter's
    selectivity while shipping 8 KB instead of the key set. k=2 hashes,
    m=65536: ~5% false-positive rate at 10k keys."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    # distinct key set feeds both hash legs; the 1024-word filter is
    # broadcast twice — checkpoint both so the orders scan runs once
    # for the build (r11 fact-rescan audit: 5 scans -> 2, build + the
    # exact semi join)
    keys = o.select(F.col("o_custkey").alias("key")).distinct().localCheckpoint(
        eager=False
    )
    words = None
    for i in (0, 1):
        part = keys.withColumn("__p", _bloom_pos(F.col("key"), i)).select(
            F.shiftright(F.col("__p"), 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))").alias("b"),
        )
        words = part if words is None else words.unionByName(part)
    bloom = words.groupBy("w").agg(F.expr("bit_or(b)").alias("bits")).localCheckpoint(
        eager=False
    )

    cand = c.select(F.col("c_custkey"), F.col("c_mktsegment"))
    for i in (0, 1):
        p = _bloom_pos(F.col("c_custkey"), i)
        cand = (
            cand.withColumn(f"__w{i}", F.shiftright(p, 6))
            .withColumn(f"__m{i}", p % 64)
            .join(
                F.broadcast(
                    bloom.withColumnRenamed("w", f"__w{i}").withColumnRenamed(
                        "bits", f"__bits{i}"
                    )
                ),
                f"__w{i}",
                "left",
            )
            .filter(
                F.expr(
                    f"coalesce(__bits{i} & shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(__m{i} AS INT)), CAST(0 AS BIGINT)) != 0"
                )
            )
            .drop(f"__w{i}", f"__m{i}", f"__bits{i}")
        )
    return cand.join(o, cand.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_mktsegment"
    )


@query(
    "q105_region_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY r.r_name, n.n_name
    """,
)
def q105_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way star join with the local-supplier
    signature (c_nationkey = s_nationkey turns supplier into a second
    fact-side constraint, not just an enrich): Catalyst reorders the
    join tree, broadcasts nation/region (hinted — calendar-fixed dims)
    and supplier (size-gated, NOT hinted: suppliers scale with the
    corpus, 10→100 at 10× data in the r12 broadcast-growth audit, so
    AQE broadcasts while it fits and shuffles at 100 TB), pushes the
    date range into the orders scan, and the two fact-fact joins
    shuffle on their keys with AQE cleanup. Declared declaratively; the
    optimizer earns its keep — what the reference hand-scheduled."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum(rev).cast("string").cast("double").alias("revenue"),
        )
    )


@query(
    "q106_shipping_priority",
    oracle="""
    SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q106_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — unshipped high-value orders in one segment:
    filters on three tables push to their scans, the join-agg feeds a
    global top-10 which Spark executes as TakeOrderedAndProject (per-
    partition top-10 then a driver-side merge of 10-row heaps — no full
    sort at any scale). Revenue DESC with an orderkey tiebreak keeps the
    cut deterministic."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    rev = F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("string").cast("double").alias("revenue"))
        .select(
            F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q163_hierarchical_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE)
             AS share_of_total
    FROM rev
    """,
)
def q163_hierarchical_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels (nation share of its
    region, share of world) — the classic drill-down ratio report.
    Plan discipline: the windows computing the denominators run over
    the AGGREGATED (region, nation) frame — ≤ nations rows, so even
    the empty-frame global-total window is driver-trivial (the
    "No Partition Defined" hazard only bites on row-scale frames);
    revenue itself aggregates once in DECIMAL (exact ⇒ the shares'
    float divisions agree cross-engine). nation/region broadcast by
    hint (fixed dims); supplier is size-gated, not hinted (r12
    broadcast-growth audit: suppliers scale with the corpus);
    lineitem shuffles once on the group key — the q105 star shape
    with a windowed epilogue."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("rev")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev").cast("double") / F.sum("rev").over(wr).cast("double")).alias(
            "share_of_region"
        ),
        (F.col("rev").cast("double") / F.sum("rev").over(wg).cast("double")).alias(
            "share_of_total"
        ),
    )


@query(
    "q174_asof_forward",
    oracle="""
    SELECT
      CAST(v.event_id AS BIGINT) AS event_id,
      CAST(v.user_id AS BIGINT) AS user_id,
      epoch_us(CAST(v.ts AS TIMESTAMP)) AS view_ts,
      CAST(p.value AS DOUBLE) AS next_purchase_value,
      epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
        AS micros_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id AND CAST(v.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
    """,
)
def q174_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — q17's mirror: for each view event, the
    EARLIEST purchase by the same user strictly after it (the
    time-to-convert / next-quote lookup). Same union+window operator
    (operators/asof.py, ``direction="forward"``): one shuffle on the key,
    a FOLLOWING frame with ``first(..., ignorenulls)``, side-ordering at
    equal timestamps encoding strictness — no per-key row explosion, the
    property the naive ``join + filter(r.ts > l.ts) + min`` loses on hot
    keys. DuckDB's native ASOF with a ``<`` condition is the oracle.

    The matched timestamp rides along as a second value column, so the
    conversion latency is a plain subtraction — no second join."""
    from hoops_edge_database_etl_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.col("value").alias("next_purchase_value"),
        F.col("ts").alias("__p_ts"),
    )
    joined = asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["next_purchase_value", "__p_ts"],
        strict=True,
        direction="forward",
    )
    return joined.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        F.unix_micros("ts").alias("view_ts"),
        F.col("next_purchase_value").cast("double"),
        (F.unix_micros("__p_ts") - F.unix_micros("ts")).alias("micros_to_purchase"),
    )


@query(
    "q184_temporal_dim_join",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
             TIMESTAMP '1995-01-01' AS valid_from
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 10000,
             TIMESTAMP '1998-01-01'
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(d.bal_cents) AS BIGINT) AS bal_at_order_cents
    FROM orders o
    JOIN dim d ON d.c_custkey = o.o_custkey
    WHERE d.valid_from <= CAST(o.o_orderdate AS TIMESTAMP)
      AND NOT EXISTS (
        SELECT 1 FROM dim d2
        WHERE d2.c_custkey = d.c_custkey
          AND d2.valid_from <= CAST(o.o_orderdate AS TIMESTAMP)
          AND d2.valid_from > d.valid_from
      )
    GROUP BY d.c_mktsegment
    """,
)
def q184_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (effective-dated) dimension join: each fact row joins the
    dimension VERSION valid at its event time — the SCD2 lookup every
    warehouse fact load runs. The dimension is carved in-plan (every 3rd
    customer gets a +$100 version effective 1998-01-01, q101's
    construction); the lookup is the union+window as-of operator
    (operators/asof.py, non-strict backward on the version's valid_from)
    — ONE shuffle on the key, no per-fact interval probe and no row
    explosion, where the oracle's declarative form (valid_from ≤ ts and
    no later version — a NOT EXISTS anti-probe) would nest-loop per
    fact. The validity-interval end column never needs to exist: "latest
    version at or before ts" IS the interval semantics.

    q17 (as-of on events), q65 (numeric range join), and THIS form the
    interval-join triangle; this one is the star-schema instance."""
    from hoops_edge_database_etl_spark.operators.asof import asof_join

    c = load(spark, sf_dir, "customer")
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        bal.alias("bal_cents"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
    )
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        (bal + 10000).alias("bal_cents"),
        F.lit("1998-01-01").cast("timestamp").alias("valid_from"),
    )
    dim = v1.unionByName(v2).select(
        "k", "valid_from",
        F.col("seg").alias("segment"),
        F.col("bal_cents").alias("bal_at_order"),
    )
    o = load(spark, sf_dir, "orders")
    facts = o.select(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("ts"))
    joined = asof_join(
        facts,
        dim,
        on="k",
        left_ts="ts",
        right_ts="valid_from",
        value_cols=["segment", "bal_at_order"],
        strict=False,
    )
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("bal_at_order").cast("bigint").alias("bal_at_order_cents"),
    )


@query(
    "q190_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_orderkey % 10 END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_a
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN o_custkey % 89 = 0 THEN NULL
                  ELSE o_orderkey % 10 END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM orders GROUP BY 1
    )
    SELECT CAST(a.k AS BIGINT) AS k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q190_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (Spark ``<=>`` ≡ SQL IS NOT DISTINCT
    FROM): the NULL bucket on each side — rows whose key genuinely could
    not be derived — matches the other side's NULL bucket instead of
    silently dropping, the semantics reconciliation jobs need when
    "unknown" is itself a joinable category. Both sides reduce to their
    bounded key histogram first, so the join is 11×11; plan-wise Spark
    hashes the null-safe key like any other equi-key (no fallback to a
    nested loop), which is exactly why ``<=>`` beats the
    ``(a = b OR (a IS NULL AND b IS NULL))`` formulation that defeats
    hash partitioning."""
    o = load(spark, sf_dir, "orders")
    a = o.groupBy(
        F.when(F.col("o_orderkey") % 97 == 0, None)
        .otherwise(F.col("o_orderkey") % 10)
        .alias("k")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    b = o.groupBy(
        F.when(F.col("o_custkey") % 89 == 0, None)
        .otherwise(F.col("o_orderkey") % 10)
        .alias("kb")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    return a.join(b, F.col("k").eqNullSafe(F.col("kb"))).select(
        F.col("k").cast("bigint").alias("k"), "n_a", "n_b"
    )


@query(
    "q196_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS small_revenue_cents
    FROM lineitem l JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * pa.n * 10 < 7 * pa.sq
    """,
)
def q196_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape: revenue from lineitems whose quantity is below
    0.7× their part's average — a FACT-to-FACT-AGGREGATE join (the
    per-part average is computed from the same fact table it filters).
    The correlated form ("WHERE quantity < (SELECT 0.7*avg ...)") would
    re-aggregate per row; the decorrelated plan aggregates once and
    joins back — both sides shuffle on partkey, the aggregate side is
    |parts| rows. The threshold is the exact integer cross-multiply
    q·n·10 < 7·Σq (no float average anywhere — the q136 rule).

    Completes the TPC-H shape coverage: Q1 (q01), Q3 (q106), Q5 (q105),
    Q17 (this) — the four canonical plan archetypes."""
    li = load(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).cast("bigint").alias("sq"),
    )
    j = li.join(pa, "l_partkey").filter(
        F.col("l_quantity").cast("long") * F.col("n") * 10 < 7 * F.col("sq")
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("small_revenue_cents"),
    )


@query(
    "q197_dominant_suppliers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS tq FROM ps GROUP BY 1
    ),
    dom AS (
      SELECT ps.l_suppkey
      FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
      WHERE ps.sq * 20 > 3 * pt.tq
      GROUP BY ps.l_suppkey
    )
    SELECT s.s_nationkey AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_dominant_suppliers
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
    GROUP BY s.s_nationkey
    """,
)
def q197_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-threshold SEMI join (TPC-H Q20's archetype): suppliers
    holding an OUTSIZED share (>15%) of some part's volume (the share
    comparison as exact integer cross-multiply 20·q > 3·Σq), then the
    supplier dimension filters with a LEFT SEMI against that derived key
    set — never an inner join that would duplicate a supplier dominating
    several parts. Two map-side-combining aggregations build the share
    table; the semi join ships only distinct qualifying keys.

    The anti-form ("suppliers dominating NOTHING") is the same plan with
    left_anti — the q14 gap-repair machinery over a derived threshold
    set instead of a raw key set."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("bigint").alias("sq")
    )
    pt = ps.groupBy("l_partkey").agg(F.sum("sq").cast("bigint").alias("tq"))
    dom = (
        ps.join(pt, "l_partkey")
        .filter(F.col("sq") * 20 > 3 * F.col("tq"))
        .select("l_suppkey")
    )
    return (
        s.join(dom, s.s_suppkey == dom.l_suppkey, "left_semi")
        .groupBy(F.col("s_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dominant_suppliers"))
    )


@query(
    "q206_fifo_allocation",
    oracle="""
    WITH sup AS (
      SELECT l_partkey AS p, CAST(l_quantity AS BIGINT) AS q,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM lineitem WHERE l_linestatus = 'O'
    ),
    dem AS (
      SELECT l_partkey AS p, CAST(l_quantity AS BIGINT) AS q,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM lineitem WHERE l_linestatus = 'F'
    ),
    alloc AS (
      SELECT s.p,
             LEAST(s.cum_end, d.cum_end)
               - GREATEST(s.cum_end - s.q, d.cum_end - d.q) AS a
      FROM sup s JOIN dem d ON d.p = s.p
        AND s.cum_end - s.q < d.cum_end
        AND d.cum_end - d.q < s.cum_end
    ),
    tot AS (
      SELECT p, CAST(SUM(q) AS BIGINT) AS supply FROM sup GROUP BY p
    ),
    dtot AS (
      SELECT p, CAST(SUM(q) AS BIGINT) AS demand FROM dem GROUP BY p
    )
    SELECT t.p AS l_partkey, t.supply, dtot.demand,
           CAST(COALESCE(SUM(al.a), 0) AS BIGINT) AS allocated,
           CAST(COALESCE(COUNT(al.a), 0) AS BIGINT) AS n_matches
    FROM tot t
    JOIN dtot ON dtot.p = t.p
    LEFT JOIN alloc al ON al.p = t.p
    GROUP BY t.p, t.supply, dtot.demand
    """,
)
def q206_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot allocation WITHOUT sequential matching: map each supply
    lot and each demand onto the part's cumulative-quantity NUMBER LINE
    (running sums in arrival order — total (date, orderkey, linenumber)
    tiebreak), and FIFO matching becomes pure INTERVAL OVERLAP: lot
    [s₀,s₁) serves demand [d₀,d₁) exactly where the intervals intersect,
    allocated = min(s₁,d₁) − max(s₀,d₀). The pointer-walk a warehouse
    system codes imperatively is an equi-join on part + a range predicate
    — fully parallel per part, and the invariant Σallocated =
    min(supply, demand) per part falls out (asserted in tests).

    Scale: two windowed cumsums over per-part bounded sequences, then a
    within-part overlap join (per-part quadratic worst case — the q65
    bin-bucketed range join is the escape when single parts carry
    millions of lots). Output is the bounded per-part audit."""
    li = load(spark, sf_dir, "lineitem")

    def cumline(status: str) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return li.filter(F.col("l_linestatus") == status).select(
            F.col("l_partkey").alias("p"),
            F.col("l_quantity").cast("long").alias("q"),
            F.sum(F.col("l_quantity").cast("long")).over(w).alias("cum_end"),
        )

    sup = cumline("O")
    dem = cumline("F")
    s = sup.select(
        "p", F.col("q").alias("sq"),
        (F.col("cum_end") - F.col("q")).alias("s0"), F.col("cum_end").alias("s1"),
    )
    d = dem.select(
        F.col("p").alias("dp"), F.col("q").alias("dq"),
        (F.col("cum_end") - F.col("q")).alias("d0"), F.col("cum_end").alias("d1"),
    )
    alloc = s.join(
        d,
        (F.col("p") == F.col("dp")) & (F.col("s0") < F.col("d1")) & (F.col("d0") < F.col("s1")),
    ).select(
        "p",
        (F.least("s1", "d1") - F.greatest("s0", "d0")).alias("a"),
    )
    tot = sup.groupBy("p").agg(F.sum("q").cast("bigint").alias("supply"))
    dtot = dem.groupBy("p").agg(F.sum("q").cast("bigint").alias("demand"))
    al = alloc.groupBy("p").agg(
        F.sum("a").cast("bigint").alias("allocated"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
    )
    return (
        tot.join(dtot, "p")
        .join(al, "p", "left")
        .select(
            F.col("p").alias("l_partkey"),
            "supply",
            "demand",
            F.coalesce("allocated", F.lit(0)).cast("bigint").alias("allocated"),
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
        )
    )


@query(
    "q217_asof_nearest",
    oracle="""
    WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (
      SELECT e.event_id, e.user_id,
             epoch_us(CAST(e.ts AS TIMESTAMP)) AS e_us,
             epoch_us(CAST(c.ts AS TIMESTAMP)) AS c_us,
             c.event_id AS c_id
      FROM e JOIN c ON c.user_id = e.user_id
    ),
    best AS (
      SELECT event_id, user_id, e_us, c_us, c_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_id
               ORDER BY abs(c_us - e_us), c_us, c_id
             ) AS rn
      FROM b
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           abs(c_us - e_us) AS nearest_gap_us,
           CASE WHEN c_us < e_us THEN 'before'
                WHEN c_us > e_us THEN 'after' ELSE 'same' END AS direction
    FROM best WHERE rn = 1
    """,
)
def q217_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-in-time as-of: for each error event, the click by the same
    user CLOSEST in either direction — sensor-fusion / root-cause
    alignment semantics (backward q17 answers "state at the time";
    forward q174 answers "what happened next"; nearest answers "what is
    this correlated with"). Plan: run the union+window operator BOTH ways
    — last-preceding and first-following are each one shuffle-free
    window over the shared key partitioning — then pick the closer match
    per row with a deterministic (gap, ts, id) tiebreak. The oracle's
    per-pair |Δt| ranking is the quadratic formulation this avoids: the
    operator form touches each row twice regardless of key fan-out.

    Timestamps ride as value columns (the q174 trick), so gap and
    direction are plain arithmetic on the output."""
    from hoops_edge_database_etl_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("ts").alias("__b_ts"),
        F.col("event_id").alias("__b_id"),
    )
    back = asof_join(
        errors, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["__b_ts", "__b_id"], strict=False, direction="backward",
    )
    clicks_f = clicks.select(
        "user_id", "ts",
        F.col("__b_ts").alias("__f_ts"),
        F.col("__b_id").alias("__f_id"),
    )
    both = asof_join(
        back, clicks_f, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["__f_ts", "__f_id"], strict=True, direction="forward",
    )
    b_gap = F.unix_micros("ts") - F.unix_micros("__b_ts")
    f_gap = F.unix_micros("__f_ts") - F.unix_micros("ts")
    # closer wins; ties (equal |Δt|) go to the EARLIER candidate — the same
    # (gap, c_us, id) total order the oracle ranks by
    take_back = F.col("__b_ts").isNotNull() & (
        F.col("__f_ts").isNull() | (b_gap <= f_gap)
    )
    return (
        both.filter(F.col("__b_ts").isNotNull() | F.col("__f_ts").isNotNull())
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.when(take_back, b_gap).otherwise(f_gap).alias("nearest_gap_us"),
            F.when(take_back & (b_gap == 0), "same")
            .when(take_back, "before")
            .otherwise("after")
            .alias("direction"),
        )
    )


@query(
    "q244_copurchase_topk",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM lines a JOIN lines b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    ranked AS (
      SELECT p1, p2, n_orders,
             ROW_NUMBER() OVER (PARTITION BY p1
                                ORDER BY n_orders DESC, p2) AS rnk
      FROM pairs
    )
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
           n_orders, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q244_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-PURCHASE candidate generation — the item-item co-visitation
    table behind "customers also bought": distinct (order, part) pairs
    self-join on the order (basket-bounded fan-out: a b-line basket
    emits b·(b−1) ordered pairs — baskets are small by contract, THE
    precondition for every market-basket algorithm), count pairs, keep
    each item's top-5 partners with the (count DESC, partner) total
    tiebreak. The within-order dedup runs FIRST so multi-line repeats
    of the same part can't inflate counts. At 100 TB: one orderkey
    shuffle for the pair explosion, one (p1,p2) combiner aggregate,
    and the per-item rank runs on the pair-count table (≤ items ×
    partners), not raw lineitem. The 'hot basket' degenerate case
    (one order with 10⁶ lines) is exactly what the basket-size
    contract + q104's skew profiler exist to catch upstream."""
    li = load(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    a = lines.alias("a")
    b = lines.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") != F.col("a.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    w = Window.partitionBy("p1").orderBy(F.col("n_orders").desc(), "p2")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("p1").cast("bigint").alias("p1"),
            F.col("p2").cast("bigint").alias("p2"),
            "n_orders",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "q268_graph_neighbor_agg",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lines a JOIN lines b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
    ),
    feat AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part
    )
    SELECT CAST(e.src AS BIGINT) AS p_partkey,
           CAST(COUNT(*) AS BIGINT) AS degree,
           CAST(SUM(f.cents) AS BIGINT) AS neigh_sum_cents,
           CAST(SUM(f.cents) AS DOUBLE) / (COUNT(*) * 100.0) AS neigh_mean
    FROM edges e JOIN feat f ON f.p_partkey = e.dst
    GROUP BY e.src
    """,
)
def q268_graph_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE GNN MESSAGE-PASSING LAYER (GraphSAGE-mean) on the
    co-purchase graph: for every part, the mean feature (retail price)
    of its distinct co-purchased neighbors — exactly the neighbor-
    aggregation step a distributed GNN trainer materializes per layer,
    expressed as edges ⋈ features → one destination-keyed sum/count
    (the sum exact in cents, the mean one final division). The edge
    list derives from q244's within-basket pair explosion with a
    DISTINCT (multigraph → simple graph — repeated co-purchases must
    not overweight a neighbor in the mean). Two shuffles total: the
    edge build on orderkey, the aggregate on src. Stacking layers =
    re-joining this output as the next layer's feature table — each
    layer is one more edge-keyed pass, never a driver loop; hub-part
    skew is q104's profile and AQE's skew-join territory. The feature
    table is size-gated, not hinted (r12 broadcast-growth audit: one
    row per part, 200→2000 at 10× data — a forced broadcast of a
    node-feature table is exactly what OOMs a GNN layer at graph
    scale; unhinted, the feature join shuffles on dst when big)."""
    li = load(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    a = lines.alias("a")
    b = lines.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") != F.col("a.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    feat = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("dst"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return (
        edges.join(feat, "dst")
        .groupBy(F.col("src").cast("bigint").alias("p_partkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("degree"),
            F.sum("cents").cast("bigint").alias("neigh_sum_cents"),
            (F.sum("cents").cast("double") / (F.count(F.lit(1)) * 100.0)).alias(
                "neigh_mean"
            ),
        )
    )


@query(
    "q291_orphan_entity_sweep",
    oracle="""
    SELECT 'customers_without_orders' AS check_name,
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
             AS n_orphans
    UNION ALL
    SELECT 'parts_never_ordered',
           CAST((SELECT COUNT(*) FROM part p
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_partkey = p.p_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'suppliers_without_lines',
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_suppkey = s.s_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_without_lines',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
    """,
)
def q291_orphan_entity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORPHAN-ENTITY SWEEP — the catalog-hygiene report consolidating
    every "dimension row no fact references" check into one pass over
    the FK graph: four LEFT ANTI joins (never NOT IN — its three-valued
    NULL semantics silently return zero rows if the subquery ever
    contains a NULL key; ANTI is the safe plan Spark and DuckDB both
    decorrelate to), each one distinct-key-bounded on the build side.
    Zero counts are findings too (every order HAS lines here — that's
    the generator's referential guarantee, confirmed, not assumed).
    The reference ran these as separate Athena audit queries
    (scripts/sql/*); consolidated, the sweep is one scheduled job whose
    output feeds retention policy (archive never-referenced rows) and
    the q270 constraint catalog."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")

    def orphans(left, right, lk, rk, name):
        return left.join(
            right, left[lk] == right[rk], "left_anti"
        ).agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
        )

    return (
        orphans(c, o, "c_custkey", "o_custkey", "customers_without_orders")
        .unionAll(orphans(p, li, "p_partkey", "l_partkey", "parts_never_ordered"))
        .unionAll(
            orphans(s := load(spark, sf_dir, "supplier"), li, "s_suppkey", "l_suppkey",
                    "suppliers_without_lines")
        )
        .unionAll(orphans(o, li, "o_orderkey", "l_orderkey", "orders_without_lines"))
    )


POP_DECILES = 10


@query(
    "q311_popularity_bias",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pop AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM lines GROUP BY l_partkey
    ),
    dec AS (
      SELECT l_partkey,
             (ROW_NUMBER() OVER (ORDER BY n_ord DESC, l_partkey) - 1)
               * {POP_DECILES} // COUNT(*) OVER () AS decile
      FROM pop
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM lines a JOIN lines b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    recs AS (
      SELECT p2 FROM (
        SELECT p1, p2, ROW_NUMBER() OVER (PARTITION BY p1
                 ORDER BY n_orders DESC, p2) AS rnk
        FROM pairs
      ) WHERE rnk <= 5
    ),
    rd AS (SELECT d.decile FROM recs r JOIN dec d ON d.l_partkey = r.p2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rd)
    SELECT rd.decile,
           CAST(COUNT(*) AS BIGINT) AS n_rec_slots,
           CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm
    FROM rd, tot GROUP BY rd.decile, tot.n
    """,
)
def q311_popularity_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULARITY-BIAS report for the co-purchase recommender (q244,
    re-invoked — not re-implemented): bucket the catalog into
    popularity deciles by distinct-order count (decile 0 = head), then
    measure where recommendation SLOTS land. A healthy candidate
    generator shows head concentration but non-zero tail mass; a
    degenerate one recommends only decile 0 — the feedback loop that
    collapses catalogs, caught here before serving. Decile assignment
    is exact integer rank arithmetic ((rank−1)·10 DIV n
    over the per-part aggregate — the q171 decile rule, part-key
    tiebroken); shares are ppm floor division. The added plan is one
    broadcast-sized join from rec slots to the part-decile dim plus a
    10-row rollup — the recommender's own cost dominates.
    The rank runs over the per-part AGGREGATE (catalog-sized, not
    order-sized) via operators.rowids.stable_row_ids (r10 global-window
    audit: the old global row_number window was the entity-rank hazard
    class; the range-partitioned row-id form IS the q306 rank-block
    trick this docstring used to defer to)."""
    from hoops_edge_database_etl_spark.operators.rowids import stable_row_ids

    li = load(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    pop = lines.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ord")
    )
    # catalog-sized rollup read three times (count + the two row-id
    # branches) — checkpoint so the lineitem distinct runs once (r11
    # fact-rescan audit)
    pop = pop.localCheckpoint(eager=False)
    n_parts = pop.agg(F.count(F.lit(1)).cast("long").alias("n_cat"))
    dec = (
        stable_row_ids(
            pop, [F.col("n_ord").desc(), "l_partkey"], id_col="rnk", start=1
        )
        .crossJoin(F.broadcast(n_parts))
        .select(
            "l_partkey",
            F.expr(f"(rnk - 1) * {POP_DECILES} DIV n_cat").alias("decile"),
        )
    )
    recs = q244_copurchase_topk(spark, sf_dir).select(
        F.col("p2").alias("l_partkey")
    )
    # slot-count-sized; read by the total and the per-decile rollup —
    # without this the whole q244 recommender re-executes twice
    rd = recs.join(dec, "l_partkey").select("decile").localCheckpoint(eager=False)
    tot = rd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        rd.groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rec_slots"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_rec_slots",
            F.expr("n_rec_slots * 1000000 DIV n").cast("bigint").alias("share_ppm"),
        )
    )


# Build-side tables of the schema's FK joins, with their string columns
# (variable width, measured) and count of fixed-width columns (8 B each).
_ADVISOR_BUILDS = {
    "region": (["r_name"], 1),
    "nation": (["n_name"], 2),
    "customer": (["c_name", "c_mktsegment"], 3),
    "supplier": (["s_name"], 3),
    "part": (["p_name", "p_brand", "p_type"], 3),
    "orders": (["o_orderstatus", "o_orderpriority"], 4),
}
_ADVISOR_JOINS = [  # (join name, probe side, build side)
    ("orders_x_customer", "orders", "customer"),
    ("lineitem_x_orders", "lineitem", "orders"),
    ("lineitem_x_part", "lineitem", "part"),
    ("lineitem_x_supplier", "lineitem", "supplier"),
    ("customer_x_nation", "customer", "nation"),
    ("supplier_x_nation", "supplier", "nation"),
    ("nation_x_region", "nation", "region"),
]
BROADCAST_LIMIT_BYTES = 10 * 1024 * 1024
SHUFFLE_HASH_RATIO = 3  # build must be this many times smaller than probe


@query(
    "q319_join_strategy_advisor",
    oracle=f"""
    WITH stats AS (
      {" UNION ALL ".join(
        f'''SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM({" + ".join(f"strlen({c}) + 4" for c in cols)}
                 + {nfix} * 8) AS BIGINT) AS tot_bytes
            FROM {t}'''
        for t, (cols, nfix) in _ADVISOR_BUILDS.items())}
      UNION ALL
      SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(strlen(l_returnflag) + strlen(l_linestatus) + 8
                  + 9 * 8) AS BIGINT)
      FROM lineitem
    ),
    cand AS (SELECT * FROM (VALUES
      {", ".join(f"('{j}', '{p}', '{b}')" for j, p, b in _ADVISOR_JOINS)}
    ) AS v(join_name, probe_tbl, build_tbl))
    SELECT c.join_name,
           b.n_rows AS build_rows,
           b.tot_bytes AS build_bytes,
           p.n_rows AS probe_rows,
           CASE WHEN b.tot_bytes < {BROADCAST_LIMIT_BYTES} THEN 'broadcast'
                WHEN p.n_rows >= b.n_rows * {SHUFFLE_HASH_RATIO}
                  THEN 'shuffle_hash'
                ELSE 'sort_merge' END AS strategy
    FROM cand c
    JOIN stats b ON b.tbl = c.build_tbl
    JOIN stats p ON p.tbl = c.probe_tbl
    """,
)
def q319_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY ADVISOR — the cost-based decision this repo makes
    by hand all over (broadcast q11, shuffle-hash vs sort-merge in the
    skew family), produced as data: for every FK join in the schema,
    measure the build side's rows and estimated in-memory bytes
    (measured string widths + 4 B overhead, 8 B per fixed column — the
    same width model Spark's SizeEstimator approximates) and recommend
    broadcast (< {{limit}} MB — spark.sql.autoBroadcastJoinThreshold's
    default neighborhood), shuffle-hash (build {SHUFFLE_HASH_RATIO}x
    smaller than probe — worth skipping the sort), else sort-merge.
    This is what a 100 TB deployment runs nightly to pin join hints
    BEFORE stats go stale — AQE re-plans at runtime, but only within
    the shuffle it already scheduled; the advisor moves the plan before
    the shuffle exists. One aggregate per table (column-pruned scans),
    a literal candidate list, two tiny joins.""".format(
        limit=BROADCAST_LIMIT_BYTES // (1024 * 1024),
        SHUFFLE_HASH_RATIO=SHUFFLE_HASH_RATIO,
    )
    stat_frames = []
    for t, (cols, nfix) in _ADVISOR_BUILDS.items():
        width = sum(
            (F.octet_length(c) + F.lit(4) for c in cols), F.lit(nfix * 8)
        )
        stat_frames.append(
            load(spark, sf_dir, t).agg(
                F.lit(t).alias("tbl"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(width).cast("long").alias("tot_bytes"),
            )
        )
    li_width = (
        F.octet_length("l_returnflag")
        + F.octet_length("l_linestatus")
        + F.lit(8)
        + F.lit(9 * 8)
    )
    stat_frames.append(
        load(spark, sf_dir, "lineitem").agg(
            F.lit("lineitem").alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(li_width).cast("long").alias("tot_bytes"),
        )
    )
    stats = stat_frames[0]
    for fr in stat_frames[1:]:
        stats = stats.unionByName(fr)
    cand = spark.createDataFrame(
        _ADVISOR_JOINS, "join_name string, probe_tbl string, build_tbl string"
    )
    b = stats.select(
        F.col("tbl").alias("build_tbl"),
        F.col("n_rows").alias("build_rows"),
        F.col("tot_bytes").alias("build_bytes"),
    )
    p = stats.select(
        F.col("tbl").alias("probe_tbl"), F.col("n_rows").alias("probe_rows")
    )
    return (
        cand.join(F.broadcast(b), "build_tbl")
        .join(F.broadcast(p), "probe_tbl")
        .select(
            "join_name",
            F.col("build_rows").cast("bigint"),
            F.col("build_bytes").cast("bigint"),
            F.col("probe_rows").cast("bigint"),
            F.when(F.col("build_bytes") < BROADCAST_LIMIT_BYTES, "broadcast")
            .when(
                F.col("probe_rows") >= F.col("build_rows") * SHUFFLE_HASH_RATIO,
                "shuffle_hash",
            )
            .otherwise("sort_merge")
            .alias("strategy"),
        )
    )


@query(
    "q425_fellegi_sunter",
    oracle="""
    WITH a AS (
      SELECT c_custkey AS id, c_custkey % 40 AS blk,
             CAST(c_nationkey AS BIGINT) AS nation,
             c_custkey % 100 AS suffix,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    b AS (
      SELECT c_custkey AS id, c_custkey % 40 AS blk,
             CAST(CASE WHEN c_custkey % 10 = 0 THEN (c_nationkey + 1) % 25
                       ELSE c_nationkey END AS BIGINT) AS nation,
             (c_custkey + CASE WHEN c_custkey % 13 = 0 THEN 50 ELSE 0 END)
               % 100 AS suffix,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               + CASE WHEN c_custkey % 7 = 0 THEN 250 ELSE 0 END AS cents
      FROM customer
    ),
    cand AS (
      SELECT a.id = b.id AS is_match,
             a.nation = b.nation AS f_nation,
             a.suffix = b.suffix AS f_suffix,
             ABS(a.cents - b.cents) <= 100 AS f_bal
      FROM a JOIN b ON b.blk = a.blk
    ),
    mu AS (
      SELECT CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS md,
             CAST(SUM(CASE WHEN is_match AND f_nation THEN 1 ELSE 0 END)
                  AS BIGINT) AS mn1,
             CAST(SUM(CASE WHEN is_match AND f_suffix THEN 1 ELSE 0 END)
                  AS BIGINT) AS mn2,
             CAST(SUM(CASE WHEN is_match AND f_bal THEN 1 ELSE 0 END)
                  AS BIGINT) AS mn3,
             CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS ud,
             CAST(SUM(CASE WHEN NOT is_match AND f_nation THEN 1 ELSE 0 END)
                  AS BIGINT) AS un1,
             CAST(SUM(CASE WHEN NOT is_match AND f_suffix THEN 1 ELSE 0 END)
                  AS BIGINT) AS un2,
             CAST(SUM(CASE WHEN NOT is_match AND f_bal THEN 1 ELSE 0 END)
                  AS BIGINT) AS un3
      FROM cand
    ),
    pat AS (
      SELECT f_nation, f_suffix, f_bal,
             CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatch
      FROM cand GROUP BY f_nation, f_suffix, f_bal
    )
    SELECT p.f_nation, p.f_suffix, p.f_bal, p.n_match, p.n_unmatch,
           ((CASE WHEN p.f_nation
                  THEN (CAST(m.mn1 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un1 + 1))
                  ELSE (CAST(m.md + 1 - m.mn1 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un1)) END
             * CASE WHEN p.f_suffix
                  THEN (CAST(m.mn2 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un2 + 1))
                  ELSE (CAST(m.md + 1 - m.mn2 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un2)) END)
             * CASE WHEN p.f_bal
                  THEN (CAST(m.mn3 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un3 + 1))
                  ELSE (CAST(m.md + 1 - m.mn3 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un3)) END)
             AS fs_ratio,
           ((CASE WHEN p.f_nation
                  THEN (CAST(m.mn1 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un1 + 1))
                  ELSE (CAST(m.md + 1 - m.mn1 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un1)) END
             * CASE WHEN p.f_suffix
                  THEN (CAST(m.mn2 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un2 + 1))
                  ELSE (CAST(m.md + 1 - m.mn2 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un2)) END)
             * CASE WHEN p.f_bal
                  THEN (CAST(m.mn3 + 1 AS DOUBLE) * (m.ud + 2)) / (CAST(m.md + 2 AS DOUBLE) * (m.un3 + 1))
                  ELSE (CAST(m.md + 1 - m.mn3 AS DOUBLE) * (m.ud + 2))
                       / (CAST(m.md + 2 AS DOUBLE) * (m.ud + 1 - m.un3)) END)
             > 1.0 AS link_decision
    FROM pat p CROSS JOIN mu m
    """,
)
def q425_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI-SUNTER record-linkage scoring — the probabilistic model
    behind every serious entity-resolution system (Splink, dedupe.io):
    from a BLOCKED candidate-pair set between the customer table and a
    deterministically corrupted copy of itself (10% nation typos, ~8%
    name-suffix drift, ~14% balance drift — truth = same key), estimate
    each comparison field's m-probability (P(agree | match)) and
    u-probability (P(agree | non-match)), then score all 8 agreement
    patterns with the likelihood ratio Π m/u (agreements) ×
    (1−m)/(1−u) (disagreements). The textbook formulation is a SUM OF
    LOG WEIGHTS; the ln-free house form multiplies the ratios instead
    — m/u counts carry add-one (Laplace) smoothing, (mn+1)/(md+2) and
    (un+1)/(ud+2), so a zero cell (at tiny scale a blocked candidate
    set can have NO suffix-agreeing non-matches) never divides by
    zero — each ratio is ONE float division of exact integer
    cross-products
    and the three-term product is explicitly parenthesized left-to-
    right, so both engines execute the identical IEEE sequence (the
    q404 precedence lesson). Blocking on key mod 40 keeps the
    candidate set ~n²/40 of the cross join and never drops a true pair
    (blocks derive from the UNCORRUPTED key on both sides — corrupt
    the block key and recall dies, which is q308's recall-eval
    lesson). One grouped pass estimates all six m/u counts; the
    pattern table is 8 rows regardless of scale. Property tests: a
    numpy replay from raw pair counts, monotonicity (all-agree pattern
    outscores all-disagree by orders of magnitude), and the
    m > u sanity every informative field must satisfy."""
    c = load(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    a = c.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_custkey") % 40).alias("blk"),
        F.col("c_nationkey").cast("long").alias("nation"),
        (F.col("c_custkey") % 100).alias("suffix"),
        cents.alias("cents"),
    )
    b = c.select(
        F.col("c_custkey").alias("id2"),
        (F.col("c_custkey") % 40).alias("blk"),
        F.when(
            F.col("c_custkey") % 10 == 0, (F.col("c_nationkey") + 1) % 25
        )
        .otherwise(F.col("c_nationkey"))
        .cast("long")
        .alias("nation2"),
        (
            (
                F.col("c_custkey")
                + F.when(F.col("c_custkey") % 13 == 0, 50).otherwise(0)
            )
            % 100
        ).alias("suffix2"),
        (
            cents + F.when(F.col("c_custkey") % 7 == 0, 250).otherwise(0)
        ).alias("cents2"),
    )
    cand = a.join(b, "blk").select(
        (F.col("id") == F.col("id2")).alias("is_match"),
        (F.col("nation") == F.col("nation2")).alias("f_nation"),
        (F.col("suffix") == F.col("suffix2")).alias("f_suffix"),
        (F.abs(F.col("cents") - F.col("cents2")) <= 100).alias("f_bal"),
    )
    m = F.col("is_match").cast("long")
    u = (~F.col("is_match")).cast("long")
    mu = cand.agg(
        F.sum(m).cast("long").alias("md"),
        F.sum(m * F.col("f_nation").cast("long")).cast("long").alias("mn1"),
        F.sum(m * F.col("f_suffix").cast("long")).cast("long").alias("mn2"),
        F.sum(m * F.col("f_bal").cast("long")).cast("long").alias("mn3"),
        F.sum(u).cast("long").alias("ud"),
        F.sum(u * F.col("f_nation").cast("long")).cast("long").alias("un1"),
        F.sum(u * F.col("f_suffix").cast("long")).cast("long").alias("un2"),
        F.sum(u * F.col("f_bal").cast("long")).cast("long").alias("un3"),
    )
    pat = cand.groupBy("f_nation", "f_suffix", "f_bal").agg(
        F.sum(m).cast("long").alias("n_match"),
        F.sum(u).cast("long").alias("n_unmatch"),
    )
    ratio = (
        "(CASE WHEN f_nation"
        " THEN (CAST(mn1 + 1 AS DOUBLE) * (ud + 2)) / (CAST(md + 2 AS DOUBLE) * (un1 + 1))"
        " ELSE (CAST(md + 1 - mn1 AS DOUBLE) * (ud + 2))"
        " / (CAST(md + 2 AS DOUBLE) * (ud + 1 - un1)) END"
        " * CASE WHEN f_suffix"
        " THEN (CAST(mn2 + 1 AS DOUBLE) * (ud + 2)) / (CAST(md + 2 AS DOUBLE) * (un2 + 1))"
        " ELSE (CAST(md + 1 - mn2 AS DOUBLE) * (ud + 2))"
        " / (CAST(md + 2 AS DOUBLE) * (ud + 1 - un2)) END)"
        " * CASE WHEN f_bal"
        " THEN (CAST(mn3 + 1 AS DOUBLE) * (ud + 2)) / (CAST(md + 2 AS DOUBLE) * (un3 + 1))"
        " ELSE (CAST(md + 1 - mn3 AS DOUBLE) * (ud + 2))"
        " / (CAST(md + 2 AS DOUBLE) * (ud + 1 - un3)) END"
    )
    return pat.crossJoin(F.broadcast(mu)).selectExpr(
        "f_nation",
        "f_suffix",
        "f_bal",
        "n_match",
        "n_unmatch",
        f"({ratio}) AS fs_ratio",
        f"({ratio}) > 1.0D AS link_decision",
    )


def _q455_oracle() -> str:
    """Embed q425's full oracle as a derived table and sweep its pattern
    ratios as candidate thresholds."""
    from hoops_edge_database_etl_spark.queries import _ORACLES

    return f"""
    WITH pat AS (
      SELECT * FROM (
      {_ORACLES["q425_fellegi_sunter"]}
      ) q425_out
    ),
    tot AS (
      SELECT CAST(SUM(n_match) AS BIGINT) AS total_match FROM pat
    ),
    sweep AS (
      SELECT t.fs_ratio AS threshold,
             CAST(SUM(CASE WHEN p.fs_ratio >= t.fs_ratio
                           THEN p.n_match ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN p.fs_ratio >= t.fs_ratio
                           THEN p.n_unmatch ELSE 0 END) AS BIGINT) AS fp
      FROM (SELECT DISTINCT fs_ratio FROM pat) t
      CROSS JOIN pat p
      GROUP BY t.fs_ratio
    ),
    scored AS (
      SELECT s.threshold, s.tp, s.fp,
             tt.total_match - s.tp AS fn,
             s.tp * 1000000 // NULLIF(s.tp + s.fp, 0) AS precision_ppm,
             s.tp * 1000000 // tt.total_match AS recall_ppm,
             2 * s.tp * 1000000
               // NULLIF(2 * s.tp + s.fp + (tt.total_match - s.tp), 0)
               AS f1_ppm
      FROM sweep s CROSS JOIN tot tt
    )
    SELECT threshold, tp, fp, CAST(fn AS BIGINT) AS fn,
           CAST(precision_ppm AS BIGINT) AS precision_ppm,
           CAST(recall_ppm AS BIGINT) AS recall_ppm,
           CAST(f1_ppm AS BIGINT) AS f1_ppm,
           f1_ppm = MAX(f1_ppm) OVER () AS is_best_f1
    FROM scored
    """


@query("q455_linkage_threshold_curve", oracle=_q455_oracle())
def q455_linkage_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINKAGE OPERATING-POINT CURVE — the decision q425's likelihood
    ratios exist to inform: sweep every observed pattern ratio as a
    link threshold and report TP/FP/FN with precision, recall, and F1
    in exact floor-ppm, flagging the F1-optimal operating point
    (98.6% precision / 85.7% recall at ratio ≈ 24 on this fixture —
    the all-agree-plus-one-disagreement band). Because patterns are
    the atoms of Fellegi-Sunter scoring, the 8-row pattern table IS
    the sufficient statistic: the sweep is an 8×8 self-join of
    aggregates, never a rescan of the candidate pairs — the operating
    curve costs nothing more than the model (the q285/q397 bounded-
    report rule). Oracle composition: q425's ENTIRE oracle embeds as
    a derived table (the subquery-WITH form), so this hash re-checks
    the upstream model and the curve in one verdict. Property tests:
    TP+FN ≡ total matches at every threshold (conservation), TP and
    FP are monotone nonincreasing in the threshold, recall is
    monotone nonincreasing while precision trends up, and a python
    replay reproduces every ppm."""
    pat = q425_fellegi_sunter(spark, sf_dir).select(
        "fs_ratio", "n_match", "n_unmatch"
    ).localCheckpoint(eager=True)
    tot = pat.agg(F.sum("n_match").cast("long").alias("total_match"))
    thresholds = pat.select(F.col("fs_ratio").alias("threshold")).distinct()
    sweep = (
        thresholds.crossJoin(F.broadcast(pat))
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("fs_ratio") >= F.col("threshold"), F.col("n_match"))
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("fs_ratio") >= F.col("threshold"), F.col("n_unmatch")
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    scored = sweep.crossJoin(F.broadcast(tot)).selectExpr(
        "threshold",
        "tp",
        "fp",
        "CAST(total_match - tp AS BIGINT) AS fn",
        "CAST(tp * 1000000 div NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm",
        "CAST(tp * 1000000 div total_match AS BIGINT) AS recall_ppm",
        "CAST(2 * tp * 1000000"
        " div NULLIF(2 * tp + fp + (total_match - tp), 0) AS BIGINT)"
        " AS f1_ppm",
    )
    wmax = Window.partitionBy()
    return scored.withColumn(
        "is_best_f1", F.col("f1_ppm") == F.max("f1_ppm").over(wmax)
    )


_ALLEN_CASE = """
    CASE WHEN s1 = s2 AND e1 = e2 THEN 'equals'
         WHEN e1 < s2 THEN 'precedes'
         WHEN e1 = s2 THEN 'meets'
         WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
         WHEN s1 = s2 AND e1 < e2 THEN 'starts'
         WHEN s1 > s2 AND e1 < e2 THEN 'during'
         WHEN s1 > s2 AND s1 < e2 AND e1 = e2 THEN 'finishes'
         WHEN s1 > e2 THEN 'preceded_by'
         WHEN s1 = e2 THEN 'met_by'
         WHEN s2 < s1 AND e2 > s1 AND e2 < e1 THEN 'overlapped_by'
         WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
         WHEN s1 < s2 AND e1 > e2 THEN 'contains'
         WHEN s1 < s2 AND e1 = e2 THEN 'finished_by'
    END
"""


@query(
    "q462_allen_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM iv a JOIN iv b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
    ),
    rel AS (SELECT {_ALLEN_CASE} AS relation FROM pairs),
    cnt AS (
      SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM rel GROUP BY relation
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM cnt)
    SELECT c.relation, c.n_pairs,
           CAST(c.n_pairs AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
    FROM cnt c CROSS JOIN tot t
    """,
)
def q462_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALLEN'S INTERVAL ALGEBRA census — classify every within-user
    pair of per-event-type activity intervals into
    one of Allen (1983)'s thirteen mutually-exclusive relations
    (precedes/meets/overlaps/starts/during/finishes, their six
    inverses, equals). This is the temporal-join primitive underneath
    q65's range join and q454's tolerance dedup made EXHAUSTIVE: the
    thirteen relations partition all possible (s1,e1)×(s2,e2)
    configurations of valid intervals, so the CASE chain provably
    never falls through to NULL — a property the test suite asserts
    by brute-forcing all interval configurations on a small grid.
    Intervals are per-(user, event_type) activity spans
    [min ts, max ts] — s ≤ e by construction — and pairing is a
    self-equi-join on user_id with event_type order as the dedup
    tiebreak: fan-out is ≤C(5,2) per user (the type enum), so the
    join output is linear in users at any scale and co-partitioned by
    the join key (no broadcast needed; user_id is uniform). The span
    aggregate and the pair join share one shuffle key, so AQE fuses
    them into a single exchange. The single float is one count/total
    division after aggregation."""
    iv = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    a = iv.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("t1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = iv.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("t2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(b, "k").where(F.col("t1") < F.col("t2"))
    cnt = (
        pairs.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = cnt.agg(F.sum("n_pairs").cast("long").alias("total"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "relation",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
    )


@query(
    "q464_levenshtein_blocking",
    oracle="""
    WITH names AS (
      SELECT DISTINCT p_name,
             string_split(p_name, ' ')[1] AS color,
             string_split(p_name, ' ')[2] AS noun
      FROM part
    ),
    pairs AS (
      SELECT a.noun, a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM names a JOIN names b
        ON b.noun = a.noun AND a.p_name < b.p_name
    )
    SELECT noun, name_a, name_b, dist, dist <= 4 AS is_candidate
    FROM pairs
    """,
)
def q464_levenshtein_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKED EDIT-DISTANCE MATCHING — the classic record-linkage
    candidate generator: dedup the NAME DICTIONARY first (64 distinct
    p_names from 2000 rows — fuzzy matching always runs on the
    dictionary, never the occurrences), block on the head noun so
    only same-entity-type names ever meet, then score each in-block
    pair with Levenshtein distance — Spark's `levenshtein` and
    DuckDB's `levenshtein` are both the textbook unit-cost
    insert/delete/substitute DP, so the integer distances agree
    bit-for-bit (asserted against a pure-Python Wagner-Fischer in the
    tests, not just cross-engine). Complements q18's token-set fuzzy
    join with the character-level metric it can't see (transposition
    -adjacent typos, pluralization). Blocking is WHY this scales:
    all-pairs on a 10^8-name dictionary is 10^16 comparisons, but
    C(block,2) summed over balanced blocks is smaller by the block
    count — and the blocks shuffle-partition naturally by the block
    key. dist ≤ 4 is the candidate gate (a full linker would feed
    q425's Fellegi-Sunter weights); every column is exact."""
    names = (
        load(spark, sf_dir, "part")
        .select(
            "p_name",
            F.split("p_name", " ").getItem(0).alias("color"),
            F.split("p_name", " ").getItem(1).alias("noun"),
        )
        .distinct()
    )
    a = names.select(
        F.col("noun"), F.col("p_name").alias("name_a")
    )
    b = names.select(
        F.col("noun").alias("noun_b"), F.col("p_name").alias("name_b")
    )
    return (
        a.join(b, (F.col("noun_b") == F.col("noun")) & (F.col("name_a") < F.col("name_b")))
        .select(
            "noun",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
        .withColumn("is_candidate", F.col("dist") <= 4)
    )
