"""Registry entries for the iterative solver (rows-only — genuinely
non-SQL-expressible, SURVEY.md §2.5 W10/W11) and the normalize layer
(oracle-checked: its semantics ARE SQL — coalesce + try_cast + row_number)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from hoops_edge_database_etl_spark.operators.fixpoint import until_stable
from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.session import local_frame
from hoops_edge_database_etl_spark.tables import load


@query("q53_iterative_ratings")  # no oracle: iterative fixed point (W10/W11)
def q53_iterative_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-date SOS-adjusted rating snapshots over synthetic matchups
    derived from orders (team = custkey mod 20, opponent = clerk-derived,
    efficiency from totalprice folded into the [40,200] clamp window).

    The float fixed point has league-average coupling per iteration and
    tolerance-based termination, so there is no SQL equivalent — the
    driver records a rows-only check and the semantic invariants live in
    tests/test_ratings.py (winner ordering, emergent league mean, SOS
    reward, no-leakage snapshots). q61_jacobi_exact is the oracle-checked
    sibling: the same solver family with exact fixed-point arithmetic and
    a fixed iteration count, hash-verified against a DuckDB recursive
    CTE."""
    from hoops_edge_database_etl_spark.operators.ratings import ratings_per_date

    o = load(spark, sf_dir, "orders")
    games = (
        o.select(
            F.col("o_orderdate").alias("game_date"),
            (F.col("o_custkey") % 20).alias("team_id"),
            (F.col("o_orderkey") % 20).alias("opp_id"),
            (40.0 + F.pmod(F.col("o_totalprice"), F.lit(120.0))).alias("off_eff"),
            (F.col("o_orderkey") % 2 == 0).alias("is_home"),
        )
        .filter(F.col("team_id") != F.col("opp_id"))
    )
    bounds = games.agg(
        F.min("game_date").alias("lo"), F.max("game_date").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo).days
    rating_dates = [lo + __import__("datetime").timedelta(days=span * k // 4) for k in (1, 2, 3, 4)]
    snaps = ratings_per_date(
        spark, games, rating_dates=rating_dates, half_life_days=90.0, hca=4.0
    )
    # deterministic invariant columns (VERDICT r2 item 4): n_prior_games /
    # n_teams are exact integers any checker can pin down even though the
    # float ratings themselves are rows-only; q86_rating_spine is the
    # fully oracle-checked sibling of this scaffold.
    dates_df = spark.createDataFrame(
        [(d,) for d in rating_dates], "rating_date date"
    )
    ent = games.select(
        "game_date", F.col("team_id").alias("entity")
    ).unionByName(games.select("game_date", F.col("opp_id").alias("entity")))
    counts = (
        ent.crossJoin(F.broadcast(dates_df))
        .filter(F.col("game_date") < F.col("rating_date"))
        .groupBy("rating_date")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_prior_games"),
            F.countDistinct("entity").alias("n_teams"),
        )
    )
    return snaps.join(F.broadcast(counts), "rating_date")


@query(
    "q114_rating_invariants",
    oracle="""
    WITH g AS (
      SELECT CAST(o_orderdate AS DATE) AS game_date,
             CAST(o_custkey % 20 AS BIGINT) AS team_id,
             CAST(o_orderkey % 20 AS BIGINT) AS opp_id
      FROM orders
      WHERE o_custkey % 20 <> o_orderkey % 20
    ),
    b AS (
      SELECT MIN(game_date) AS lo,
             date_diff('day', MIN(game_date), MAX(game_date)) AS span
      FROM g
    ),
    d AS (
      SELECT lo + CAST((span * k) // 4 AS INTEGER) AS rating_date
      FROM b, (VALUES (1), (2), (3), (4)) AS t(k)
    ),
    x AS (
      SELECT d.rating_date, g.team_id AS entity
      FROM d JOIN g ON g.game_date < d.rating_date
      UNION ALL
      SELECT d.rating_date, g.opp_id
      FROM d JOIN g ON g.game_date < d.rating_date
    )
    SELECT strftime(rating_date, '%Y-%m-%d') AS rating_date,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_prior_games,
           CAST(COUNT(DISTINCT entity) AS BIGINT) AS n_teams
    FROM x
    GROUP BY rating_date
    """,
)
def q114_rating_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's exact-integer invariant columns split into an oracle-bearing
    sibling (VERDICT r3 item 3): the per-rating-date prior-game count and
    distinct-entity count are pure integer arithmetic over the same
    matchup spine the float solver consumes (reference scaffold:
    build_pbp_team_daily_rollup_adj.py:60-87 — the prior-window game pool
    each snapshot is fit on). A q53 regression in date derivation,
    strictly-prior pruning, or entity expansion flips THIS hash even
    though the float fixed point itself stays rows-only. Same shape as
    q86 but aggregated to the per-date level q53 publishes."""
    o = load(spark, sf_dir, "orders")
    g = o.select(
        F.col("o_orderdate").alias("game_date"),
        (F.col("o_custkey") % 20).cast("long").alias("team_id"),
        (F.col("o_orderkey") % 20).cast("long").alias("opp_id"),
    ).filter(F.col("team_id") != F.col("opp_id"))
    b = g.agg(
        F.min("game_date").alias("lo"),
        F.datediff(F.max("game_date"), F.min("game_date")).alias("span"),
    )
    d = b.crossJoin(spark.range(1, 5).toDF("k")).select(
        F.date_add(
            F.col("lo"), ((F.col("span") * F.col("k")) / 4).cast("int")
        ).alias("rating_date")
    )
    ent = g.select("game_date", F.col("team_id").alias("entity")).unionByName(
        g.select("game_date", F.col("opp_id").alias("entity"))
    )
    return (
        ent.crossJoin(F.broadcast(d))
        .filter(F.col("game_date") < F.col("rating_date"))
        .groupBy("rating_date")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_prior_games"),
            F.countDistinct("entity").alias("n_teams"),
        )
        .select(
            F.date_format("rating_date", "yyyy-MM-dd").alias("rating_date"),
            "n_prior_games",
            "n_teams",
        )
    )


_EFF_SCALE = 1 << 20  # fixed-point rating units (~1e-6 rating precision)
_JACOBI_ITERS = 8


def _idiv(a: int, b: int) -> int:
    """floor(a/b) computed as ONE IEEE double division + floor — the
    identical primitive DuckDB's ``floor(CAST(a AS DOUBLE)/b)`` executes,
    so both engines agree bit-for-bit (|a| stays < 2^53 by construction;
    double division is IEEE-deterministic across JVMs and C)."""
    import math

    return math.floor(float(a) / float(b))


@query(
    "q61_jacobi_exact",
    oracle=f"""
    WITH RECURSIVE g AS (
      SELECT CAST(o_custkey % 20 AS BIGINT) AS team,
             CAST(o_orderkey % 20 AS BIGINT) AS opp,
             CAST(40 * {_EFF_SCALE} + (o_orderkey * 7919) % (120 * {_EFF_SCALE}) AS BIGINT) AS e
      FROM orders
      WHERE o_custkey % 20 <> o_orderkey % 20
    ),
    lg AS (
      SELECT CAST(floor(CAST(SUM(e) AS DOUBLE) / COUNT(*)) AS BIGINT) AS league FROM g
    ),
    x AS (
      SELECT team AS entity, opp AS partner, 0 AS kind, e FROM g
      UNION ALL
      SELECT opp AS entity, team AS partner, 1 AS kind, e FROM g
    ),
    st(k, team, kind, val) AS (
      SELECT 0, entity, kind, CAST(0 AS BIGINT)
      FROM (SELECT DISTINCT entity, kind FROM x)
      UNION ALL
      SELECT s.k + 1, x.entity, x.kind,
             CAST(floor(CAST(SUM(x.e - lg.league - s.val) AS DOUBLE) / COUNT(*)) AS BIGINT)
      FROM st s
      JOIN x ON x.partner = s.team AND x.kind = 1 - s.kind
      CROSS JOIN lg
      WHERE s.k < {_JACOBI_ITERS}
      GROUP BY s.k, x.entity, x.kind
    )
    SELECT team AS team_id,
           CAST(MAX(CASE WHEN kind = 0 THEN val END) AS DOUBLE) / {_EFF_SCALE} AS off_adj,
           CAST(MAX(CASE WHEN kind = 1 THEN val END) AS DOUBLE) / {_EFF_SCALE} AS def_adj
    FROM st WHERE k = {_JACOBI_ITERS}
    GROUP BY team
    """,
)
def q61_jacobi_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Jacobi SOS solver (W12) made HASH-CHECKABLE: all solver
    arithmetic is exact — int64 fixed-point efficiencies (2^20
    units), order-independent integer sums, and floor-of-one-IEEE-division
    as the mean — so a DuckDB recursive CTE reproduces the fixed iteration
    count bit-for-bit. This is the oracle-checked sibling of q53's float
    solver (reference: build_pbp_team_daily_rollup_adj.py:88-146).

    Placement mirrors operators/ratings.py: Spark does the distributed part
    (per-game quantization + the exact per-(entity,partner,kind) int64
    pre-aggregation — the only pass over raw data), then the K=8 sweeps run
    on the collected pair matrix, which is O(teams²) — bounded by league
    size, NOT data size (~800 rows for 20 teams at any SF). For web-scale
    entity graphs where the state itself is huge, use the distributed
    iteration shape of q62 instead."""
    o = load(spark, sf_dir, "orders")
    g = o.select(
        (F.col("o_custkey") % 20).cast("long").alias("team"),
        (F.col("o_orderkey") % 20).cast("long").alias("opp"),
        (
            F.lit(40 * _EFF_SCALE)
            + (F.col("o_orderkey") * 7919) % F.lit(120 * _EFF_SCALE)
        )
        .cast("long")
        .alias("e"),
    ).filter(F.col("team") != F.col("opp"))

    x = g.select(
        F.col("team").alias("entity"), F.col("opp").alias("partner"), F.lit(0).alias("kind"), "e"
    ).unionByName(
        g.select(
            F.col("opp").alias("entity"), F.col("team").alias("partner"), F.lit(1).alias("kind"), "e"
        )
    )
    # ONE distributed pass: exact int64 sums per (entity, partner, kind)
    pair = (
        x.groupBy("entity", "partner", "kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("e").alias("se"))
        .collect()
    )
    # league mean from the kind=0 half of the collected pair matrix (each
    # game appears exactly once there) — no second Spark job needed
    tot_se = sum(r["se"] for r in pair if r["kind"] == 0)
    tot_n = sum(r["n"] for r in pair if r["kind"] == 0)
    league = _idiv(tot_se, tot_n)

    by_entity: dict[tuple[int, int], list] = {}
    for r in pair:
        by_entity.setdefault((r["entity"], r["kind"]), []).append(
            (r["partner"], r["n"], r["se"])
        )
    state = {key: 0 for key in by_entity}
    for _ in range(_JACOBI_ITERS):
        new = {}
        for (ent, kind), rows in by_entity.items():
            num = 0
            den = 0
            for partner, n, se in rows:
                # Σ(e - league - val[partner, 1-kind]) decomposed exactly
                num += se - n * league - n * state[(partner, 1 - kind)]
                den += n
            new[(ent, kind)] = _idiv(num, den)
        state = new

    teams = sorted({ent for (ent, _k) in state})
    rows = [
        (
            t,
            state[(t, 0)] / _EFF_SCALE,
            state[(t, 1)] / _EFF_SCALE,
        )
        for t in teams
    ]
    return local_frame(spark, rows, "team_id long, off_adj double, def_adj double")


@query(
    "q86_rating_spine",
    oracle="""
    WITH g AS (
      SELECT CAST(o_orderdate AS DATE) AS game_date,
             CAST(o_custkey % 20 AS BIGINT) AS team_id,
             CAST(o_orderkey % 20 AS BIGINT) AS opp_id,
             40 + (o_totalprice % 120) AS eff
      FROM orders
      WHERE o_custkey % 20 <> o_orderkey % 20
    ),
    b AS (
      SELECT MIN(game_date) AS lo,
             date_diff('day', MIN(game_date), MAX(game_date)) AS span
      FROM g
    ),
    d AS (
      SELECT lo + CAST((span * k) // 4 AS INTEGER) AS rating_date
      FROM b, (VALUES (1), (2), (3), (4)) AS t(k)
    ),
    x AS (
      SELECT d.rating_date, g.team_id AS entity, 1 AS as_team, g.eff
      FROM d JOIN g ON g.game_date < d.rating_date
      UNION ALL
      SELECT d.rating_date, g.opp_id, 0, g.eff
      FROM d JOIN g ON g.game_date < d.rating_date
    )
    SELECT strftime(rating_date, '%Y-%m-%d') AS rating_date,
           entity AS team_id,
           CAST(SUM(as_team) AS BIGINT) AS n_prior_as_team,
           CAST(SUM(1 - as_team) AS BIGINT) AS n_prior_as_opp,
           CAST(CAST(SUM(CASE WHEN as_team = 1 THEN eff END) AS VARCHAR) AS DOUBLE)
             AS sum_eff
    FROM x
    GROUP BY rating_date, entity
    """,
)
def q86_rating_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked scaffold of q53's float solver (VERDICT r2 item 4):
    the EXACT per-rating-date team spine the solver emits — every entity
    appearing as team or opponent in strictly-prior games — plus its
    deterministic workload stats (prior appearances on each side, exact
    decimal efficiency mass). Everything the solver consumes short of the
    float fixed point itself is hash-verified here, so a q53 regression
    in date math, prior-game pruning, or the entity set shows up as a
    hash mismatch in THIS row even though q53 stays rows-only.

    Decimal sums bridge to double via string (the q23 pattern): DuckDB's
    decimal→double double-rounds, string parse is correctly rounded in
    both engines."""
    o = load(spark, sf_dir, "orders")
    g = o.select(
        F.col("o_orderdate").alias("game_date"),
        (F.col("o_custkey") % 20).cast("long").alias("team_id"),
        (F.col("o_orderkey") % 20).cast("long").alias("opp_id"),
        (F.lit(40) + F.col("o_totalprice") % 120).alias("eff"),
    ).filter(F.col("team_id") != F.col("opp_id"))
    b = g.agg(
        F.min("game_date").alias("lo"),
        F.datediff(F.max("game_date"), F.min("game_date")).alias("span"),
    )
    d = (
        b.crossJoin(spark.range(1, 5).toDF("k"))
        .select(
            F.date_add(
                F.col("lo"), ((F.col("span") * F.col("k")) / 4).cast("int")
            ).alias("rating_date")
        )
    )
    x = (
        g.select("game_date", F.col("team_id").alias("entity"), F.lit(1).alias("as_team"), "eff")
        .unionByName(
            g.select("game_date", F.col("opp_id").alias("entity"), F.lit(0).alias("as_team"), "eff")
        )
        .crossJoin(F.broadcast(d))
        .filter(F.col("game_date") < F.col("rating_date"))
    )
    return x.groupBy("rating_date", "entity").agg(
        F.sum("as_team").cast("long").alias("n_prior_as_team"),
        F.sum(F.lit(1) - F.col("as_team")).cast("long").alias("n_prior_as_opp"),
        F.sum(F.when(F.col("as_team") == 1, F.col("eff")))
        .cast("string")
        .cast("double")
        .alias("sum_eff"),
    ).select(
        F.date_format("rating_date", "yyyy-MM-dd").alias("rating_date"),
        F.col("entity").alias("team_id"),
        "n_prior_as_team",
        "n_prior_as_opp",
        "sum_eff",
    )


@query(
    "q54_normalize_layer",
    oracle="""
    WITH messy AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS orderId,
             CASE WHEN o_orderkey % 97 = 0 THEN 'bad'
                  ELSE CAST(o_custkey AS VARCHAR) || '.5' END AS totalPrice,
             CASE o_orderkey % 3 WHEN 0 THEN 'yes' WHEN 1 THEN 'false'
                  ELSE '1' END AS isPriority,
             o_orderkey % 1000 AS dup_key,
             o_orderkey AS arrival
      FROM orders
    ), conformed AS (
      SELECT TRY_CAST(orderId AS BIGINT) AS order_id,
             TRY_CAST(totalPrice AS DOUBLE) AS total_price,
             CASE WHEN lower(isPriority) IN ('true','1','yes','1.0') THEN TRUE
                  WHEN lower(isPriority) IN ('false','0','no','0.0') THEN FALSE
                  END AS is_priority,
             dup_key, arrival
      FROM messy
    )
    SELECT order_id, total_price, is_priority, CAST(dup_key AS BIGINT) AS dup_key
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY dup_key ORDER BY arrival) AS rn
      FROM conformed
    ) WHERE rn = 1
    """,
)
def q54_normalize_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalize layer end-to-end on a deliberately-messy projection of
    orders: camelCase aliases → snake_case, float-string/bool-string
    lenient casts (nulls on 'bad'), deterministic first-by-arrival PK
    dedup. This is the primitive every silver table passes through
    (SURVEY.md §7 step 2)."""
    from hoops_edge_database_etl_spark.normalize import TableSpec, normalize_records

    o = load(spark, sf_dir, "orders")
    messy = o.select(
        F.col("o_orderkey").cast("string").alias("orderId"),
        F.when(F.col("o_orderkey") % 97 == 0, "bad")
        .otherwise(F.concat(F.col("o_custkey").cast("string"), F.lit(".5")))
        .alias("totalPrice"),
        F.when(F.col("o_orderkey") % 3 == 0, "yes")
        .when(F.col("o_orderkey") % 3 == 1, "false")
        .otherwise("1")
        .alias("isPriority"),
        (F.col("o_orderkey") % 1000).alias("dup_key"),
        F.col("o_orderkey").alias("arrival"),
    )
    spec = TableSpec(
        name="q54_orders",
        primary_keys=("dup_key",),
        schema=StructType(
            [
                StructField("order_id", LongType()),
                StructField("total_price", DoubleType()),
                StructField("is_priority", BooleanType()),
                StructField("dup_key", LongType()),
            ]
        ),
        aliases={
            "order_id": ("orderId",),
            "total_price": ("totalPrice",),
            "is_priority": ("isPriority",),
        },
    )
    return normalize_records(messy, spec, order_col="arrival")


_PR_SCALE = 1 << 20
_PR_ITERS = 10


_PR_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT CAST(o_custkey % 20 AS BIGINT) AS src,
             CAST(o_orderkey % 20 AS BIGINT) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders
      WHERE o_custkey % 20 <> o_orderkey % 20
      GROUP BY 1, 2
    ),
    od AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    pr(k, node, pr) AS (
      SELECT 0, src, CAST({_PR_SCALE} AS BIGINT) FROM od
      UNION ALL
      SELECT p.k + 1, e.dst,
             CAST({(15 * _PR_SCALE) // 100} + (85 * SUM(p.pr * e.w // od.outw)) // 100
                  AS BIGINT)
      FROM pr p
      JOIN e ON e.src = p.node
      JOIN od ON od.src = e.src
      WHERE p.k < {_PR_ITERS}
      GROUP BY p.k, e.dst
    )
    SELECT node AS team_id,
           CAST(pr AS DOUBLE) / {_PR_SCALE} AS pagerank
    FROM pr WHERE k = {_PR_ITERS}
    """


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted (src, dst, w) matchup graph q94, q117 and q453 rank."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            (F.col("o_custkey") % 20).cast("long").alias("src"),
            (F.col("o_orderkey") % 20).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


@query("q94_pagerank_exact", oracle=_PR_ORACLE)
def q94_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the team matchup graph (damping 0.85, 10
    fixed iterations), HASH-CHECKABLE like q61: all iteration arithmetic
    is int64 fixed-point (2^20 units) with floor division at the
    per-edge contribution — order-independent integer sums, so a DuckDB
    recursive CTE reproduces every sweep bit-for-bit. Dangling mass is
    dropped (every node here has out-edges by construction; the variant
    is documented, not hidden).

    Placement mirrors q61: Spark runs the distributed part — ONE pass
    over raw data aggregating the weighted edge matrix (src, dst, w,
    outw) — then the K sweeps run on the collected matrix, O(teams²)
    bounded by league size at any SF. For web-scale graphs use q62's
    distributed-iteration shape (active-subgraph joins +
    localCheckpoint) with the same integer arithmetic."""
    e = _pr_edges(spark, sf_dir)
    rows = e.collect()  # ≤ teams² rows at any SF
    outw: dict[int, int] = {}
    for r in rows:
        outw[r["src"]] = outw.get(r["src"], 0) + r["w"]
    base = (15 * _PR_SCALE) // 100
    pr = {n: _PR_SCALE for n in outw}
    for _ in range(_PR_ITERS):
        contrib: dict[int, int] = {}
        for r in rows:
            c = pr[r["src"]] * r["w"] // outw[r["src"]]
            contrib[r["dst"]] = contrib.get(r["dst"], 0) + c
        pr = {n: base + (85 * c) // 100 for n, c in contrib.items()}
    out = sorted((n, v / _PR_SCALE) for n, v in pr.items())
    return local_frame(spark, out, "team_id long, pagerank double")


@query("q117_pagerank_distributed", oracle=_PR_ORACLE)
def q117_pagerank_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q94's PageRank with the sweeps DISTRIBUTED — the web-scale twin
    (VERDICT r3 item 8): the rank vector stays a DataFrame end-to-end,
    each damped sweep is contributions-join → groupBy(dst) SUM (exact
    int64 fixed-point, floor division at the per-edge contribution — the
    identical arithmetic q94 runs on its collected matrix, so BOTH share
    one oracle). The 10 sweeps are one SQL CTE chain that Spark analyzes
    once (``_pagerank_sweeps``): the call checkpoints the edge matrix and
    runs nothing else, and AQE runs the chain stage by stage at the
    action. The rank vector is O(nodes), the only state carried between
    sweeps. At 100 TB: edges shuffle once per sweep on dst, the rank side
    is node-sized (broadcastable when nodes ≪ edges); dangling mass
    handling matches q94 (every node here has out-edges by construction).

    q94 is the right plan when nodes fit on the driver (league-sized
    graphs); THIS is the plan when they don't. Same bits either way."""
    pr = _pagerank_sweeps(_pr_edges(spark, sf_dir), "TRUE")
    return pr.select(
        F.col("node").alias("team_id"),
        (F.col("pr").cast("double") / _PR_SCALE).alias("pagerank"),
    )


def _pagerank_sweeps(e: DataFrame, teleport: str) -> DataFrame:
    """q94's sweeps as one SQL statement: (node, pr) after ``_PR_ITERS``
    sweeps over the (src, dst, w) edges. ``teleport`` is SQL text over
    ``node`` marking the restart set: the initial vector puts
    ``_PR_SCALE`` units on it and each sweep adds the 15% restart mass to
    it (``"TRUE"`` is uniform restart, q117).

    The sweeps are unrolled into a CTE chain pr0 … pr10 and handed to
    Spark as one statement, so the growing self-join is analyzed once,
    not once per sweep; the lineage is the fixed 10 sweeps deep, and AQE
    still runs it stage by stage. The edge matrix is the one checkpoint:
    every sweep reads it."""
    od = e.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = e.join(od, "src").localCheckpoint(eager=True)
    base = (15 * _PR_SCALE) // 100
    ctes = [
        f"pr0 AS (SELECT node, CAST(IF({teleport}, {_PR_SCALE}, 0) AS BIGINT) AS pr"
        " FROM (SELECT DISTINCT src AS node FROM {ew}))"
    ]
    for k in range(1, _PR_ITERS + 1):
        # ints >= 0, so div == floor
        ctes.append(
            f"pr{k} AS (SELECT node, IF({teleport}, {base}, 0) + flow AS pr FROM ("
            " SELECT e.dst AS node, 85 * SUM(p.pr * e.w div e.outw) div 100 AS flow"
            f" FROM {{ew}} e JOIN pr{k - 1} p ON e.src = p.node GROUP BY e.dst))"
        )
    sql = "WITH " + ",\n".join(ctes) + f"\nSELECT node, pr FROM pr{_PR_ITERS}"
    return e.sparkSession.sql(sql, ew=ew)


@query(
    "q118_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT
             LEAST(o_custkey % 60, o_orderkey % 60) AS a,
             GREATEST(o_custkey % 60, o_orderkey % 60) AS b
      FROM orders
      WHERE o_custkey % 60 <> o_orderkey % 60
    ),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    m AS (
      SELECT x AS node FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM m GROUP BY node
    """,
)
def q118_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the undirected matchup graph — the
    standard two-join oriented enumeration: orient every edge low→high so
    each triangle {x<y<z} is produced EXACTLY once as (x,y)+(y,z) closed
    by (x,z), then explode each triangle to its three corners and count.
    Two shuffle equi-joins + one aggregation; no cartesian anywhere.

    At 100 TB: id-orientation is what the oracle replays; for skewed
    degree distributions orient by (degree, id) instead — the wedge count
    Σ d_out(v)² is minimized when high-degree nodes get LOW out-degree,
    the classic compact-forward bound — same plan shape, one extra
    broadcast join against the degree table. The distinct() edge dedup is
    a hash shuffle, and the heaviest stage (wedge join on the shared
    middle node) is an equi-join AQE can split."""
    o = load(spark, sf_dir, "orders")
    u, v = (F.col("o_custkey") % 60), (F.col("o_orderkey") % 60)
    e = (
        o.filter(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
    )
    # the deduped edge list feeds THREE join legs — checkpoint it so
    # the orders scan + distinct shuffle run once, not three times
    # (r11 fact-rescan audit)
    e = e.localCheckpoint(eager=False)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    # the triangle list feeds three corner projections — materialize it
    # once instead of re-running the wedge join per corner
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).localCheckpoint(eager=False)
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    ).select(F.col("node").cast("long").alias("node"), "n_triangles")


BFS_MAX_HOPS = 6
BFS_SEEDS = (0, 1, 2)


@query(
    "q135_bfs_hops",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    walk(node, hop) AS (
      SELECT * FROM (VALUES {", ".join(f"({s}, 0)" for s in BFS_SEEDS)}) v(node, hop)
      UNION
      SELECT e.dst, w.hop + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < {BFS_MAX_HOPS}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(hop) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def q135_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS shortest hop count, fully distributed (the
    frontier-expansion twin of q117's PageRank): seeds {seeds} start at
    hop 0; each sweep joins the CURRENT FRONTIER (not the whole visited
    set) against the edge list, anti-joins out already-visited nodes,
    and checkpoints — so sweep cost tracks the frontier boundary,
    lineage stays O(1) deep, and the loop exits early when the frontier
    empties (a one-scalar isEmpty probe per sweep, never a data
    collect). The DuckDB oracle replays it as a recursive CTE with SET
    semantics (UNION dedups (node, hop) states, bounding the recursion
    on cyclic graphs) + MIN(hop) — the exact fixed point BFS computes
    level-by-level. At 100 TB: edges shuffle on src each sweep (or
    pre-partition once by src and reuse), frontier/visited are
    node-sized. Reference analogue: the schedule-graph reachability its
    SOS solver implies (scripts/sos_sweep_solver.py's opponent closure).""".format(
        seeds=set(BFS_SEEDS)
    )
    o = load(spark, sf_dir, "orders")
    e = (
        o.select(
            (F.col("o_custkey") % 100).cast("long").alias("src"),
            (F.col("o_orderkey") % 100).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seeds = local_frame(spark, [(int(s), 0) for s in BFS_SEEDS], "node long, hops long")
    visited = seeds.localCheckpoint(eager=True)
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            e.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
            .withColumn("hops", F.lit(hop).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.select(F.col("node").cast("bigint"), F.col("hops").cast("bigint"))


SSSP_SOURCE = 0
SSSP_MAX_SWEEPS = 16
SSSP_DIST_CAP = 24  # both engines report only nodes with dist <= cap


@query(
    "q300_weighted_sssp",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst,
             1 + (o_custkey % 100 * 31 + o_orderkey % 100) % 9 AS w
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    walk(node, d) AS (
      SELECT {SSSP_SOURCE}, 0
      UNION
      SELECT e.dst, w.d + e.w
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.d + e.w <= {SSSP_DIST_CAP}
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """,
)
def q300_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths — distributed BELLMAN-FORD
    over q135's synthetic schedule graph with deterministic positive
    integer weights (1 + (31·src + dst) mod 9): each sweep relaxes
    every edge by joining the current distance table against the edge
    list on src, min-merging candidates into the running distances,
    and localCheckpointing to keep lineage O(1); ``until_stable`` exits
    when a sweep improves nothing, detected by a two-scalar monotone
    (count, sum) probe that also materializes the sweep's lazy
    checkpoint in the same job. Weights >= 1 guarantee monotone
    convergence in <= diameter sweeps; hitting the sweep cap
    (SSSP_MAX_SWEEPS) raises RuntimeError rather than return partly
    relaxed distances. The DuckDB oracle enumerates all walks of total
    weight <= 24 via a recursive CTE with SET semantics
    (the cap bounds recursion on cycles) + MIN — the exact fixed point
    Bellman-Ford reaches; both sides report only dist <= cap so the
    two terminations agree by construction. At 100 TB: edges are the
    big table, shuffled on src once per sweep (or pre-partitioned and
    reused); the distance table is node-sized. q135 answers "how many
    hops"; this answers "how far" — the actual routing/latency
    question."""
    o = load(spark, sf_dir, "orders")
    src = (F.col("o_custkey") % 100).cast("long")
    dst = (F.col("o_orderkey") % 100).cast("long")
    e = (
        o.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select(
            "src",
            "dst",
            (1 + (F.col("src") * 31 + F.col("dst")) % 9).cast("long").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    dist = local_frame(
        spark, [(int(SSSP_SOURCE), 0)], "node long, dist long"
    ).localCheckpoint(eager=True)

    def relax(dist: DataFrame) -> DataFrame:
        cand = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .filter(F.col("dist") <= SSSP_DIST_CAP)
        )
        return dist.unionByName(cand).groupBy("node").agg(F.min("dist").alias("dist"))

    # distances only fall and nodes are only added, so (count, sum) is a
    # monotone probe — no per-sweep improved-join (r13: −10–20% on q300
    # in ab_iterlazy_r13.py, deleted; in git history at 953e8f3)
    probe = (F.count(F.lit(1)), F.sum("dist"))
    dist = until_stable(dist, relax, probe, SSSP_MAX_SWEEPS, "q300 Bellman-Ford")
    return dist.filter(F.col("dist") <= SSSP_DIST_CAP).select(
        F.col("node").cast("bigint"), F.col("dist").cast("bigint")
    )


DAG_MAX_SWEEPS = 24


def _max_relax(edges: DataFrame, start_nodes: DataFrame) -> DataFrame:
    """Longest path INTO every node of a DAG: (node, d) with d = the
    length of the longest edge chain ending at node, every start node
    seeded at 0. Each sweep joins the edges (on src) to the current
    table and max-merges; d only rises over a fixed node set, so
    (count, sum(d)) is a monotone probe. On a cyclic input d grows
    without bound, so the sweep cap doubles as a cycle tripwire: it
    raises RuntimeError after DAG_MAX_SWEEPS sweeps."""
    lvl = start_nodes.withColumn("d", F.lit(0).cast("long")).localCheckpoint(
        eager=True
    )

    def sweep(lvl: DataFrame) -> DataFrame:
        cand = edges.join(lvl.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
        )
        return lvl.unionByName(cand).groupBy("node").agg(F.max("d").alias("d"))

    probe = (F.count(F.lit(1)), F.sum("d"))
    return until_stable(
        lvl, sweep, probe, DAG_MAX_SWEEPS, "DAG longest-path relaxation"
    )


@query(
    "q318_dag_critical_path",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
      FROM orders
      WHERE o_orderkey % 100 - o_custkey % 100 >= 7
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    walk(node, d) AS (
      SELECT node, 0 FROM nodes
      UNION
      SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MAX(d) AS BIGINT) AS wave
    FROM walk GROUP BY node
    """,
)
def q318_dag_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRITICAL-PATH WAVE SCHEDULING — the DAG layering a pipeline
    orchestrator needs: a task's wave is the length of its LONGEST
    prerequisite chain, so wave k tasks can all start the moment wave
    k−1 finishes, and max(wave) is the critical-path lower bound on
    end-to-end latency no amount of parallelism beats. The q300
    Bellman-Ford skeleton with MIN flipped to MAX — sound only because
    the edge list is a DAG (edges only run >= 7 ids forward, orienting q135's graph with a
    bounded chain length; on a
    cyclic graph longest-path is NP-hard and the sweep would diverge,
    so ``_max_relax``'s sweep cap doubles as a cycle tripwire: hitting
    it raises RuntimeError).
    Distributed: each sweep joins edges (shuffled on src once) to the
    current wave table and max-merges; sweeps needed = critical path
    length, frontier-bounded like q135. The DuckDB oracle seeds every
    node at 0 and takes MAX(d) over the recursive closure — set
    semantics bound states by nodes x path-length."""
    o = load(spark, sf_dir, "orders")
    src = (F.col("o_custkey") % 100).cast("long")
    dst = (F.col("o_orderkey") % 100).cast("long")
    e = (
        o.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("dst") - F.col("src") >= 7)
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    return _max_relax(e, nodes).select(
        F.col("node").cast("bigint"), F.col("d").cast("bigint").alias("wave")
    )


MODULARITY_COMM_DIV = 10  # community(node) = node DIV 10


@query(
    "q332_graph_modularity",
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT LEAST(o_custkey % 100, o_orderkey % 100) AS u,
             GREATEST(o_custkey % 100, o_orderkey % 100) AS v
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM raw),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT u AS node FROM raw UNION ALL SELECT v FROM raw
      ) GROUP BY node
    ),
    comm AS (
      SELECT node, k, node // {MODULARITY_COMM_DIV} AS c FROM deg
    ),
    kc AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(k) AS BIGINT) AS k_total
      FROM comm GROUP BY c
    ),
    ewithin AS (
      SELECT u // {MODULARITY_COMM_DIV} AS c, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM raw WHERE u // {MODULARITY_COMM_DIV} = v // {MODULARITY_COMM_DIV}
      GROUP BY 1
    ),
    per AS (
      SELECT kc.c, kc.n_nodes, kc.k_total,
             COALESCE(e.e_in, 0) AS e_within,
             4 * m.m * COALESCE(e.e_in, 0) - kc.k_total * kc.k_total
               AS contribution_scaled
      FROM kc LEFT JOIN ewithin e ON e.c = kc.c, m
    ),
    tot AS (SELECT CAST(SUM(contribution_scaled) AS BIGINT) AS q_scaled FROM per)
    SELECT per.c, per.n_nodes, per.k_total,
           CAST(per.e_within AS BIGINT) AS e_within,
           CAST(per.contribution_scaled AS BIGINT) AS contribution_scaled,
           CAST(tot.q_scaled AS DOUBLE) / (4 * m.m * m.m) AS modularity
    FROM per, tot, m
    """,
)
def q332_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH MODULARITY of a community assignment — the quality score
    that tells you whether a clustering (here the node DIV
    10 blocks; in production q62's connected
    components or a Louvain pass) actually beats random wiring:
    Q = (1/2m)·Σ_same-community [A_ij − k_i·k_j/2m]. The whole sum
    collapses to exact integers: per community, Q-contribution x (2m)²
    = 4m·E_within − K_c² (twice-the-within-edges times 2m minus the
    squared degree mass), so Q is ONE division at the edge and the
    per-community breakdown — the thing you actually read to find the
    weak cluster — is exactly reportable. Completes the graph shelf:
    build (q62/q117/q135/q300/q318), embed (q268), now SCORE. Plan:
    edge canonicalization + a degree aggregate + two community
    rollups, all combiner-friendly; nothing is ever node²."""
    o = load(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 100).cast("long")
    b = (F.col("o_orderkey") % 100).cast("long")
    raw = (
        o.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    # the canonical edge list feeds the edge count, both degree legs,
    # and the within-community rollup — checkpoint so the orders scan
    # + distinct run once (r11 fact-rescan audit)
    raw = raw.localCheckpoint(eager=False)
    m = raw.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = (
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    D = MODULARITY_COMM_DIV
    kc = deg.groupBy(F.expr(f"node DIV {D}").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("k").cast("long").alias("k_total"),
    )
    ewithin = (
        raw.filter(F.expr(f"u DIV {D} = v DIV {D}"))
        .groupBy(F.expr(f"u DIV {D}").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    per = (
        kc.join(ewithin, "c", "left")
        .withColumn("e_within", F.coalesce("e_in", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "contribution_scaled",
            4 * F.col("m") * F.col("e_within")
            - F.col("k_total") * F.col("k_total"),
        )
    )
    per = per.localCheckpoint(eager=False)  # |communities| rows, read 2x
    tot = per.agg(F.sum("contribution_scaled").cast("long").alias("q_scaled"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "c",
            "n_nodes",
            "k_total",
            F.col("e_within").cast("bigint").alias("e_within"),
            F.col("contribution_scaled").cast("bigint").alias("contribution_scaled"),
            (
                F.col("q_scaled").cast("double")
                / (4 * F.col("m") * F.col("m"))
            ).alias("modularity"),
        )
    )


@query(
    "q346_dag_slack",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
      FROM orders
      WHERE o_orderkey % 100 - o_custkey % 100 >= 7
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    fwd(node, d) AS (
      SELECT node, 0 FROM nodes
      UNION
      SELECT e.dst, w.d + 1 FROM fwd w JOIN e ON e.src = w.node
    ),
    bwd(node, d) AS (
      SELECT node, 0 FROM nodes
      UNION
      SELECT e.src, w.d + 1 FROM bwd w JOIN e ON e.dst = w.node
    ),
    f AS (SELECT node, MAX(d) AS fwd_d FROM fwd GROUP BY node),
    b AS (SELECT node, MAX(d) AS bwd_d FROM bwd GROUP BY node),
    j AS (
      SELECT f.node, f.fwd_d, b.bwd_d FROM f JOIN b ON b.node = f.node
    ),
    cp AS (SELECT MAX(fwd_d + bwd_d) AS cp_len FROM j)
    SELECT CAST(j.node AS BIGINT) AS node,
           CAST(j.fwd_d AS BIGINT) AS earliest_wave,
           CAST(j.bwd_d AS BIGINT) AS tail_len,
           CAST(cp.cp_len AS BIGINT) AS critical_path_len,
           CAST(cp.cp_len - j.fwd_d - j.bwd_d AS BIGINT) AS slack
    FROM j, cp
    """,
)
def q346_dag_slack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAG SLACK — the scheduling metric q318's waves only half-compute:
    a task's slack is how long it can slip without stretching the
    whole pipeline, CP_len − (longest chain INTO it + longest chain
    OUT of it). Slack-0 tasks ARE the critical path — the list an
    on-call engineer reads when the nightly run is late; high-slack
    tasks are where you steal capacity. Two ``_max_relax`` passes
    (q318's sweep, run once forward and once on the REVERSED edge list
    — same distributed shape, edges re-keyed on dst) meet in one
    node-sized join; either raises RuntimeError at the sweep cap on a
    cyclic input. The oracle mirrors with two recursive closures. Property-
    tested: slack >= 0 everywhere, at least one slack-0 chain of
    length CP exists, and slack is edge-consistent (an edge's slack
    can't exceed its endpoints')."""
    o = load(spark, sf_dir, "orders")
    src = (F.col("o_custkey") % 100).cast("long")
    dst = (F.col("o_orderkey") % 100).cast("long")
    e = (
        o.select(src.alias("src"), dst.alias("dst"))
        .filter(F.col("dst") - F.col("src") >= 7)
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
    fwd = _max_relax(e, nodes).withColumnRenamed("d", "fwd_d")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = _max_relax(rev, nodes).withColumnRenamed("d", "bwd_d")
    j = fwd.join(bwd, "node")
    cp = j.agg(F.max(F.col("fwd_d") + F.col("bwd_d")).alias("cp_len"))
    return j.crossJoin(F.broadcast(cp)).select(
        F.col("node").cast("bigint"),
        F.col("fwd_d").cast("bigint").alias("earliest_wave"),
        F.col("bwd_d").cast("bigint").alias("tail_len"),
        F.col("cp_len").cast("bigint").alias("critical_path_len"),
        (F.col("cp_len") - F.col("fwd_d") - F.col("bwd_d"))
        .cast("bigint")
        .alias("slack"),
    )


LINKPRED_TOP_K = 25


@query(
    "q360_link_prediction",
    oracle=f"""
    WITH raw AS (
      SELECT DISTINCT LEAST(o_custkey % 100, o_orderkey % 100) AS u,
             GREATEST(o_custkey % 100, o_orderkey % 100) AS v
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    adj AS (
      SELECT u AS a, v AS b FROM raw UNION ALL SELECT v, u FROM raw
    ),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS k FROM adj GROUP BY a),
    wedge AS (
      SELECT x.a AS i, y.a AS j, CAST(COUNT(*) AS BIGINT) AS cn
      FROM adj x JOIN adj y ON y.b = x.b AND x.a < y.a
      GROUP BY x.a, y.a
    ),
    nonedge AS (
      SELECT w.i, w.j, w.cn, di.k AS ki, dj.k AS kj
      FROM wedge w
      JOIN deg di ON di.a = w.i JOIN deg dj ON dj.a = w.j
      WHERE NOT EXISTS (SELECT 1 FROM raw r WHERE r.u = w.i AND r.v = w.j)
    )
    SELECT CAST(i AS BIGINT) AS node_a, CAST(j AS BIGINT) AS node_b,
           cn AS common_neighbors,
           CAST(cn * 1000000 // (ki + kj - cn) AS BIGINT) AS jaccard_ppm
    FROM nonedge
    ORDER BY cn DESC, cn * 1000000 // (ki + kj - cn) DESC, i, j
    LIMIT {LINKPRED_TOP_K}
    """,
)
def q360_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by common neighbors — the classical baseline
    (Liben-Nowell & Kleinberg) every GNN link predictor is graded
    against: for node pairs NOT currently connected, count shared
    neighbors via the wedge join (adjacency self-joined on the shared
    endpoint — q118's triangle machinery, stopped one hop early) and
    rank by count with neighborhood-Jaccard (cn/(k_i+k_j−cn), exact
    ppm) as tiebreak. The anti-join against existing edges is what
    makes it a PREDICTION (recommending edges you already have is the
    classic demo bug). Candidate pairs are only those with >= 1
    common neighbor — wedge-bounded, never node² — and the output is
    a TakeOrdered top-25. This completes the graph
    shelf's predict step: build → score (q332) → predict; feeding
    these pairs to q268's GraphSAGE features is the classic
    two-tower recipe."""
    o = load(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 100).cast("long")
    b = (F.col("o_orderkey") % 100).cast("long")
    raw = (
        o.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    # edge list feeds both adjacency legs AND the anti-join — checkpoint
    # so the orders scan + distinct run once (r11 fact-rescan audit)
    raw = raw.localCheckpoint(eager=False)
    adj = raw.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        raw.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("k"))
    x = adj.select(F.col("a").alias("i"), F.col("b").alias("w"))
    y = adj.select(F.col("a").alias("j"), F.col("b").alias("w2"))
    wedge = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("i") < F.col("j")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    nonedge = wedge.join(
        raw,
        (F.col("i") == F.col("u")) & (F.col("j") == F.col("v")),
        "anti",
    )
    scored = (
        nonedge.join(deg.withColumnRenamed("a", "i").withColumnRenamed("k", "ki"), "i")
        .join(deg.withColumnRenamed("a", "j").withColumnRenamed("k", "kj"), "j")
        .select(
            F.col("i").cast("bigint").alias("node_a"),
            F.col("j").cast("bigint").alias("node_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("cn * 1000000 DIV (ki + kj - cn)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("common_neighbors").desc(),
        F.col("jaccard_ppm").desc(),
        "node_a",
        "node_b",
    ).limit(LINKPRED_TOP_K)


@query(
    "q405_degree_assortativity",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT LEAST(o_custkey % 100, o_orderkey % 100) AS u,
             GREATEST(o_custkey % 100, o_orderkey % 100) AS v
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    adj AS (SELECT u AS a, v AS b FROM raw UNION ALL SELECT v, u FROM raw),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS k FROM adj GROUP BY a),
    ends AS (
      SELECT du.k AS ku, dv.k AS kv
      FROM adj e JOIN deg du ON du.a = e.a JOIN deg dv ON dv.a = e.b
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(ku) AS BIGINT) AS s,
             CAST(SUM(ku * kv) AS BIGINT) AS sxy,
             CAST(SUM(ku * ku) AS BIGINT) AS sxx
      FROM ends
    )
    SELECT m2 // 2 AS n_edges,
           CASE WHEN m2 * sxx - s * s = 0 THEN NULL
                ELSE (CAST(m2 AS DOUBLE) * sxy - CAST(s AS DOUBLE) * s)
                     / (CAST(m2 AS DOUBLE) * sxx - CAST(s AS DOUBLE) * s)
           END AS assortativity
    FROM mom
    """,
)
def q405_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY — Newman's r: do hubs attach to hubs
    (social networks, r > 0) or to leaves (the internet, r < 0)?
    It's exactly the Pearson correlation of degrees across edge
    endpoints, and because the DIRECTED edge list contains each
    undirected edge both ways, the two endpoint margins are the same
    distribution — Σku = Σkv and Σku² = Σkv², collapsing the Pearson
    to three sums instead of five (the symmetry the textbook formula
    hides; asserted by the property test, not assumed silently).
    Exact integer moments over the edges⋈degrees join (q360's wedge
    machinery stopped at the first hop), one fixed float expression.
    The number decides real engineering: disassortative graphs
    shatter under hub removal (cache the hubs, q87-salt their keys),
    assortative ones percolate — and it's one of the cheap
    structure stats a graph pipeline should log every build.

    DEGENERATE CASE (round-9 sf1 soak, live): a REGULAR graph has zero
    degree variance, so Newman's r is 0/0 — mathematically undefined.
    The mod-100 node fold SATURATES to the complete graph once the
    orders table is large enough (sf1: every residue pair occurs), all
    100 degrees equal 99, and the Pearson denominator is exactly zero —
    under ANSI mode that was a hard DIVIDE_BY_ZERO throw, while the
    DuckDB oracle silently returned NULL. Both engines now declare the
    contract: zero variance (checked in EXACT integer arithmetic,
    m2·sxx = s², no float drift) → assortativity NULL, n_edges still
    reported. Calibration-pinned: complete graph → NULL, star → −1."""
    o = load(spark, sf_dir, "orders")
    a = (F.col("o_custkey") % 100).cast("long")
    b = (F.col("o_orderkey") % 100).cast("long")
    raw = (
        o.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    # edge list feeds both adjacency legs, each read by the degree
    # aggregate and the ends join — checkpoint so the orders scan +
    # distinct run once (r11 fact-rescan audit)
    raw = raw.localCheckpoint(eager=False)
    adj = raw.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        raw.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("k"))
    ends = (
        adj.join(deg.withColumnRenamed("k", "ku"), "a")
        .join(
            deg.withColumnRenamed("a", "b").withColumnRenamed("k", "kv"), "b"
        )
        .select("ku", "kv")
    )
    mom = ends.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("ku").cast("long").alias("s"),
        F.sum(F.col("ku") * F.col("kv")).cast("long").alias("sxy"),
        F.sum(F.col("ku") * F.col("ku")).cast("long").alias("sxx"),
    )
    return mom.selectExpr(
        "m2 DIV 2 AS n_edges",
        "CASE WHEN m2 * sxx - s * s = 0 THEN NULL"
        " ELSE (CAST(m2 AS DOUBLE) * sxy - CAST(s AS DOUBLE) * s)"
        " / (CAST(m2 AS DOUBLE) * sxx - CAST(s AS DOUBLE) * s)"
        " END AS assortativity",
    )


CC_PATH_MOD = 2048       # node universe for the planted-path CC fixture
CC_STAR_BLOCK = 256      # q410: ~256-diameter path segments (the adversarial case)
CC_PROP_BLOCK = 16       # q411: shallow segments labelprop handles in ~16 sweeps


def _cc_path_oracle(block: int) -> str:
    """Gaps-and-islands oracle for the planted path graph: consecutive
    PRESENT nodes chain within each ``block``-sized id range, so the
    component of n is simply min(n) over its block — computable without
    recursion.  The Spark side runs a GENERIC distributed CC algorithm on
    the raw edge list, oblivious to the planted structure; equality of
    the two is the theorem under test."""
    return f"""
    WITH nodes AS (
      SELECT DISTINCT o_orderkey % {CC_PATH_MOD} AS n FROM orders
    )
    SELECT CAST(n AS BIGINT) AS node,
           CAST(MIN(n) OVER (PARTITION BY n // {block}) AS BIGINT) AS component
    FROM nodes
    """


def _cc_path_edges(spark: SparkSession, sf_dir: str, block: int) -> DataFrame:
    """Planted LONG-PATH graph: sort the distinct node ids, connect each
    to its successor when both fall in the same ``block``-sized id range —
    path segments whose diameter is ~the count of present ids per block
    (the worst case for per-hop label propagation).  The 1-partition sort
    window runs over <= CC_PATH_MOD rows — fixture construction, not the
    algorithm under test."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    nodes = o.select(
        (F.col("o_orderkey") % CC_PATH_MOD).cast("long").alias("n")
    ).distinct()
    w = Window.orderBy("n")
    return (
        nodes.withColumn("nxt", F.lead("n").over(w))
        .filter(
            F.col("nxt").isNotNull()
            & (F.expr(f"nxt DIV {block}") == F.expr(f"n DIV {block}"))
        )
        .select(F.col("n").alias("src"), F.col("nxt").alias("dst"))
    )


@query("q410_star_components", oracle=_cc_path_oracle(CC_STAR_BLOCK))
def q410_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL-GRAPH connected components: alternating large-star/
    small-star contraction (operators/cc.py — Kiveris et al. SoCC'14) on
    a planted ~256-diameter path graph, the exact shape where q62's
    per-hop label propagation needs ~256 sweeps but star contraction
    converges in O(log n) rounds (measured: 6 rounds here).  The oracle
    exploits the planted block structure (component = block min, pure
    gaps-and-islands SQL); the Spark side sees only a raw edge list —
    a generic-algorithm-vs-planted-structure theorem oracle.  Closes the
    VERDICT r5 gap: label propagation's O(diameter) escape hatch is now
    implemented, oracle-checked, and benched (README crossover table)."""
    from hoops_edge_database_etl_spark.operators.cc import (
        connected_components_star,
    )

    edges = _cc_path_edges(spark, sf_dir, CC_STAR_BLOCK)
    comp = connected_components_star(edges)
    # singleton blocks (one present id => no edge) are their own component
    all_nodes = (
        load(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % CC_PATH_MOD).cast("long").alias("node"))
        .distinct()
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


@query("q411_labelprop_components", oracle=_cc_path_oracle(CC_PROP_BLOCK))
def q411_labelprop_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LABEL-PROPAGATION control for q410 on the same fixture family,
    at the shallow block size (diameter ~16) where per-hop propagation is
    the cheaper plan (2 shuffles/sweep vs star's 4, and ~16 sweeps).
    Shares the gaps-and-islands oracle with q410 — both algorithms must
    land on the identical component labeling."""
    from hoops_edge_database_etl_spark.operators.cc import (
        connected_components_labelprop,
    )

    edges = _cc_path_edges(spark, sf_dir, CC_PROP_BLOCK)
    comp = connected_components_labelprop(edges, max_sweeps=40)
    all_nodes = (
        load(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % CC_PATH_MOD).cast("long").alias("node"))
        .distinct()
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


_HITS_SCALE = 1 << 20
_HITS_SWEEPS = 8
_HITS_MOD = 24


def _hits_oracle() -> str:
    """Unrolled-CTE HITS replay (the q141 fixed-sweep discipline): every
    sweep's authority/hub update is an integer-exact aggregate plus a
    max-normalized floor division, so DuckDB reproduces all 8 sweeps
    bit-for-bit without recursion."""
    parts = [
        f"""
    WITH e AS (
      SELECT CAST(o_custkey % {_HITS_MOD} AS BIGINT) AS src,
             CAST(o_orderkey % {_HITS_MOD} AS BIGINT) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders
      WHERE o_custkey % {_HITS_MOD} <> o_orderkey % {_HITS_MOD}
      GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (SELECT node, CAST({_HITS_SCALE} AS BIGINT) AS h FROM nodes)"""
    ]
    for k in range(1, _HITS_SWEEPS + 1):
        parts.append(
            f""",
    ar{k} AS MATERIALIZED (
      SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS a
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(e.w * h.h) AS v
        FROM e JOIN h{k - 1} h ON h.node = e.src GROUP BY 1
      ) s ON s.node = n.node
    ),
    a{k} AS MATERIALIZED (SELECT node, a * {_HITS_SCALE} // (SELECT MAX(a) FROM ar{k}) AS a
             FROM ar{k}),
    hr{k} AS MATERIALIZED (
      SELECT n.node, CAST(COALESCE(s.v, 0) AS BIGINT) AS h
      FROM nodes n LEFT JOIN (
        SELECT e.src AS node, SUM(e.w * a.a) AS v
        FROM e JOIN a{k} a ON a.node = e.dst GROUP BY 1
      ) s ON s.node = n.node
    ),
    h{k} AS MATERIALIZED (SELECT node, h * {_HITS_SCALE} // (SELECT MAX(h) FROM hr{k}) AS h
             FROM hr{k})"""
        )
    parts.append(
        f"""
    SELECT n.node,
           CAST(h.h AS DOUBLE) / {_HITS_SCALE} AS hub,
           CAST(a.a AS DOUBLE) / {_HITS_SCALE} AS authority
    FROM nodes n
    JOIN h{_HITS_SWEEPS} h ON h.node = n.node
    JOIN a{_HITS_SWEEPS} a ON a.node = n.node"""
    )
    return "".join(parts)


@query("q413_hits_scores", oracle=_hits_oracle())
def q413_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the directed customer→order matchup
    graph (q94/q117's edge derivation at mod 24) — the
    link-analysis twin PageRank doesn't cover: a node is a good HUB if
    it points at good authorities, a good AUTHORITY if good hubs point
    at it. 8 fixed mutual-reinforcement sweeps, HASH-CHECKABLE like
    q94: scores are int64 fixed-point (2^20 units) and each sweep
    max-normalizes with a floor division (not the textbook L2 norm —
    sqrt would leave integer arithmetic; max-normalization has the same
    fixed point direction and keeps every sweep order-independent
    integer sums, so the DuckDB unrolled-CTE oracle replays all 8
    sweeps bit-for-bit). The rank vectors stay DataFrames end-to-end
    (the q117 discipline): each sweep is edges⋈scores → groupBy SUM →
    broadcast 1-row max → floor-div, localCheckpoint truncating lineage
    per sweep. At 100 TB the edge list shuffles once per sweep on the
    join key and the score side is node-sized (broadcastable); the
    int64 headroom bound is orders·2^40 < 2^63 (good through ~sf1 —
    re-scale SCALE down one sweep earlier beyond that).  Property
    tests: scores in [0, 1] with max == 1 on both axes, and a planted
    star graph makes its hub/authority centers win."""
    o = load(spark, sf_dir, "orders")
    e = (
        o.select(
            (F.col("o_custkey") % _HITS_MOD).cast("long").alias("src"),
            (F.col("o_orderkey") % _HITS_MOD).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    return hits_iterate(e, sweeps=_HITS_SWEEPS)


def hits_iterate(e: DataFrame, sweeps: int = _HITS_SWEEPS) -> DataFrame:
    """Run the fixed-sweep integer HITS iteration over a weighted edge
    DataFrame ``(src, dst, w)``; returns ``(node, hub, authority)``.
    Factored out so property tests can plant synthetic graphs."""
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sweep(scores: DataFrame, edge_from: str, edge_to: str, col: str) -> DataFrame:
        raw = (
            e.join(scores, e[edge_from] == scores.node)
            .groupBy(F.col(edge_to).alias("node"))
            .agg(F.sum(F.col("w") * F.col(col)).alias("v"))
        )
        full = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("v", F.lit(0)).cast("long").alias("raw")
        )
        mx = full.agg(F.max("raw").alias("mx"))
        return (
            full.crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"raw * {_HITS_SCALE} div mx").alias(col),
            )
            .localCheckpoint(eager=True)
        )

    h = nodes.select("node", F.lit(_HITS_SCALE).cast("long").alias("h"))
    for _ in range(sweeps):
        a = _sweep(h.withColumnRenamed("h", "s"), "src", "dst", "s").withColumnRenamed(
            "s", "a"
        )
        h = _sweep(a.withColumnRenamed("a", "s"), "dst", "src", "s").withColumnRenamed(
            "s", "h"
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .select(
            "node",
            (F.col("h").cast("double") / _HITS_SCALE).alias("hub"),
            (F.col("a").cast("double") / _HITS_SCALE).alias("authority"),
        )
    )


_KCORE_K = 4
_KCORE_SWEEPS = 24


def _kcore_oracle() -> str:
    """Unrolled peeling replay: each sweep recomputes degrees over the
    surviving node set (zero-degree survivors INCLUDED via the LEFT
    JOIN — they peel the sweep after their last edge vanishes) and
    drops sub-k nodes plus their edges. Sweeps past the fixpoint are
    no-ops, so any sweep budget >= the true peeling depth is exact."""
    parts = [
        f"""
    WITH l1 AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber = 1),
    l2 AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber = 2),
    e0 AS MATERIALIZED (
      SELECT DISTINCT CAST(LEAST(l1.l_partkey, l2.l_partkey) AS BIGINT) AS a,
             CAST(GREATEST(l1.l_partkey, l2.l_partkey) AS BIGINT) AS b
      FROM l1 JOIN l2 ON l2.l_orderkey = l1.l_orderkey
      WHERE l1.l_partkey <> l2.l_partkey
    ),
    n0 AS MATERIALIZED (SELECT a AS node FROM e0 UNION SELECT b FROM e0)"""
    ]
    for k in range(1, _KCORE_SWEEPS + 1):
        parts.append(
            f""",
    d{k} AS MATERIALIZED (
      SELECT n.node, COALESCE(c.d, 0) AS d
      FROM n{k - 1} n LEFT JOIN (
        SELECT node, COUNT(*) AS d FROM (
          SELECT a AS node FROM e{k - 1} UNION ALL SELECT b FROM e{k - 1}
        ) GROUP BY node
      ) c ON c.node = n.node
    ),
    r{k} AS MATERIALIZED (SELECT node FROM d{k} WHERE d < {_KCORE_K}),
    n{k} AS MATERIALIZED (SELECT node FROM d{k} WHERE d >= {_KCORE_K}),
    e{k} AS MATERIALIZED (
      SELECT a, b FROM e{k - 1} t
      WHERE NOT EXISTS (SELECT 1 FROM r{k} r WHERE r.node = t.a)
        AND NOT EXISTS (SELECT 1 FROM r{k} r WHERE r.node = t.b)
    )"""
        )
    removed_union = " UNION ALL ".join(
        f"SELECT node, CAST({k} AS BIGINT) AS removed_sweep FROM r{k}"
        for k in range(1, _KCORE_SWEEPS + 1)
    )
    parts.append(
        f"""
    SELECT n.node, rr.removed_sweep, rr.removed_sweep IS NULL AS in_core
    FROM n0 n LEFT JOIN ({removed_union}) rr ON rr.node = n.node"""
    )
    return "".join(parts)


@query("q414_kcore_onion", oracle=_kcore_oracle())
def q414_kcore_onion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition (k=4) of the part co-purchase graph
    (parts appearing as line 1 & 2 of the same order) via iterative
    peeling, with the ONION LAYER — the sweep at which each node was
    peeled — as the output (NULL ⇒ the node survives in the 4-core).
    The core is the standard dense-subgraph/community primitive; the
    onion layers are the cascade record (a node peeled at sweep 9 was
    structurally solid until 8 rounds of neighborhood collapse reached
    it). Peeling is inherently iterative but each sweep is pure
    DataFrame algebra: degree = groupBy COUNT over the edge endpoints,
    sub-k nodes leave via LEFT ANTI joins (never NOT IN and its NULL
    trap), localCheckpoint truncates lineage per sweep, and the loop
    exits at the empirical fixpoint (17 sweeps at sf0.01, 14 at
    sf0.001) with a hard cap matching the oracle's 24
    unrolled sweeps — sweeps past the fixpoint are no-ops on both
    engines, so the cap only needs to EXCEED the true depth, never
    equal it. At 100 TB: each sweep shuffles the surviving edges once
    on each endpoint; the peeled-node set is tiny after sweep 1 and
    broadcasts. The zero-degree subtlety (a survivor whose last edge
    vanished peels NEXT sweep, not never) is covered by computing
    degrees over the NODE list, not the edge list. Property tests: the
    4-core's induced degrees are all >= 4, peeling the core again is a
    no-op (maximality-side fixpoint), and removal sweeps are a
    contiguous 1..depth range."""
    li = load(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_linenumber") == 1).select("l_orderkey", "l_partkey")
    l2 = (
        li.filter(F.col("l_linenumber") == 2)
        .select("l_orderkey", F.col("l_partkey").alias("p2"))
    )
    e = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("p2"))
        .select(
            F.least("l_partkey", "p2").cast("long").alias("a"),
            F.greatest("l_partkey", "p2").cast("long").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return kcore_peel(e, k=_KCORE_K, max_sweeps=_KCORE_SWEEPS)


def kcore_peel(e: DataFrame, k: int = _KCORE_K, max_sweeps: int = _KCORE_SWEEPS) -> DataFrame:
    """Iteratively peel sub-``k``-degree nodes from an undirected edge
    DataFrame ``(a, b)`` (canonical a < b, distinct); returns
    ``(node, removed_sweep, in_core)``. Factored out so property tests
    can plant clique-plus-pendant graphs."""
    nodes0 = (
        e.select(F.col("a").alias("node"))
        .union(e.select("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = nodes0
    removed: list[DataFrame] = []
    for sweep in range(1, max_sweeps + 1):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select("b"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        dd = nodes.join(deg, "node", "left").select(
            "node", F.coalesce("d", F.lit(0)).alias("d")
        )
        bad = (
            dd.filter(F.col("d") < k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        if bad.count() == 0:
            break
        removed.append(bad.withColumn("removed_sweep", F.lit(sweep).cast("long")))
        nodes = (
            dd.filter(F.col("d") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
        e = (
            e.join(F.broadcast(bad), e.a == bad.node, "left_anti")
            .join(F.broadcast(bad), F.col("b") == bad.node, "left_anti")
            .localCheckpoint(eager=True)
        )
    if not removed:
        return nodes0.select(
            "node",
            F.lit(None).cast("long").alias("removed_sweep"),
            F.lit(True).alias("in_core"),
        )
    rr = removed[0]
    for part in removed[1:]:
        rr = rr.unionAll(part)
    return nodes0.join(rr, "node", "left").select(
        "node",
        "removed_sweep",
        F.col("removed_sweep").isNull().alias("in_core"),
    )


_HC_PIVOTS = 32
_HC_SWEEPS = 16


@query(
    "q429_harmonic_centrality",
    oracle=f"""
    WITH RECURSIVE l1 AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber = 1
    ),
    l2 AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linenumber = 2),
    e AS MATERIALIZED (
      SELECT DISTINCT CAST(LEAST(l1.l_partkey, l2.l_partkey) AS BIGINT) AS a,
             CAST(GREATEST(l1.l_partkey, l2.l_partkey) AS BIGINT) AS b
      FROM l1 JOIN l2 ON l2.l_orderkey = l1.l_orderkey
      WHERE l1.l_partkey <> l2.l_partkey
    ),
    ed AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
    pivots AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, ROW_NUMBER() OVER (
          ORDER BY md5(CAST(node AS VARCHAR) || ':hc'), node) AS rk
        FROM nodes
      ) WHERE rk <= {_HC_PIVOTS}
    ),
    bfs(p, node, d) AS (
      SELECT node, node, CAST(0 AS BIGINT) FROM pivots
      UNION
      SELECT b.p, ed.dst, b.d + 1
      FROM bfs b JOIN ed ON ed.src = b.node
      WHERE b.d < {_HC_SWEEPS}
    ),
    dist AS (
      SELECT p, node, MIN(d) AS d FROM bfs GROUP BY p, node
    )
    SELECT n.node,
           CAST(COALESCE(SUM(CASE WHEN dd.d > 0 THEN 1000000 // dd.d END), 0)
                AS BIGINT) AS harmonic_x1e6,
           CAST(COALESCE(SUM(CASE WHEN dd.d > 0 THEN 1 END), 0) AS BIGINT)
             AS n_reached
    FROM nodes n LEFT JOIN dist dd ON dd.node = n.node
    GROUP BY n.node
    """,
)
def q429_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT-SAMPLED HARMONIC CENTRALITY over the part co-purchase graph
    (q414's edges): for every node, Σ 1/d(pivot, node) over 32
    deterministic hash-ranked pivot sources — the Eppstein-Wang
    estimator shape for closeness-family centralities, which is THE
    way to do centrality at 100 TB (exact all-pairs is O(V·E);
    pivot-sampled is O(k·E) with relative error ~1/√k, and the pivot
    set is hash-ranked — q80's deterministic-sampling discipline — so
    both engines pick the identical 32; the ranking is a global sort
    over the NODE LIST, bounded by node count, never edges — swap in
    q148's range-partitioned row_number beyond ~10^8 nodes). Distances come from one
    multi-source BFS carrying (pivot, node) pairs through frontier
    expansion (the q135 loop, keyed per pivot; visited-set anti-join,
    one lazily-checkpointed state frame per sweep, early exit —
    9 sweeps suffice at
    sf0.01, budget 16 matches the oracle's bounded
    recursion). Unreachable pairs contribute zero — harmonic (unlike
    closeness) handles disconnected graphs natively, which is why it
    is the right member of the family for a graph that dissolves into
    islands at sf0.001. The parity trick for Σ 1/d: each term is the
    INTEGER floor division 1000000 div d, so the cross-pivot sum is
    exact int64 on both engines (a float Σ 1/d would be
    order-dependent); the quantization (≤ 32 ulp of 1e-6) is
    documented, deterministic, and identical on both sides. Property
    tests: python BFS replay matches exactly; adding a pivot never
    decreases anyone's score (monotonicity of the partial sum).

    Round 12 (optimization guide §2.3, "shuffle fewer bytes"): the BFS
    state is a per-node PIVOT BITMASK (one int64, bit i = hash-rank-i
    pivot has reached the node) instead of exploded (pivot, node)
    pairs — the classic multi-source-BFS compression, valid because
    every pivot's frontier expands in lockstep over the same edges.
    Per sweep the old plan shuffled up to 32× |nodes| pair rows three
    times (message distinct, visited anti-join, checkpoint); the new
    plan shuffles |messages| + |visited| single-long rows ONCE (a
    bit_or groupBy merging messages with the visited mask — the
    anti-join becomes `msg_bits & ~visited_bits`, and the same groupBy
    emits the consolidated mask mb|vb, so visited is one frame, not a
    fragment list), then per-sweep
    contributions are popcount(new bits) · (1000000 div d). Sweep
    semantics, early exit, and the oracle are unchanged — a bit first
    set at sweep d ⟺ the pair (pivot, node) first reached at sweep d
    (test_q429_python_bfs_replay pins the replay; the hash gate
    certifies the rewrite). Measured at sf0.1: 10.9 s → see
    OPTIMIZATION_r12.md. Past 64 pivots the mask widens to an array of
    longs — same plan shape. When widening, also split the checkpoint
    (ADVICE r12): each sweep currently persists the full consolidated
    state and the final union re-reads all of it filtering new != 0 at
    read time — fine for one int64 per node, but with an array mask the
    read/write amplification grows sweeps × |visited| × mask width;
    checkpoint the pre-filtered new-bits projection alongside (or
    instead of re-reading) the full state frame for the contribution
    union."""
    li = load(spark, sf_dir, "lineitem")
    # NOTE (r12): a one-scan conditional-MAX rewrite of this self-join is
    # WRONG here — (l_orderkey, l_linenumber) is NOT unique in the
    # fixture from sf0.01 up, and the oracle's l1 x l2 join emits the
    # full cross of duplicate partkeys per order (tried, 1878 vs 1950
    # oracle rows; reverted)
    l1 = li.filter(F.col("l_linenumber") == 1).select("l_orderkey", "l_partkey")
    l2 = (
        li.filter(F.col("l_linenumber") == 2)
        .select("l_orderkey", F.col("l_partkey").alias("p2"))
    )
    e = (
        l1.join(l2, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("p2"))
        .select(
            F.least("l_partkey", "p2").cast("long").alias("a"),
            F.greatest("l_partkey", "p2").cast("long").alias("b"),
        )
        .distinct()
    )
    ed = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    nodes = ed.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    rk = Window.orderBy(
        F.md5(F.concat(F.col("node").cast("string"), F.lit(":hc"))), F.col("node")
    )
    seeds = (
        nodes.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= _HC_PIVOTS)
        .select(
            "node",
            # F.shiftleft only takes a literal int shift — the per-row
            # shift must go through the SQL form
            F.expr("shiftleft(1L, rk - 1)").alias("bits"),
        )
        # lazy: sweep 1's materialization job computes it; later readers
        # (the visited union) hit the checkpointed blocks
        .localCheckpoint(eager=False)
    )
    # visited is ONE frame per sweep (r12): the r7 fragmentation+period-4
    # cadence was measured against the exploded PAIR representation,
    # where consolidating visited rewrote up to 32x|nodes| rows per
    # sweep; under the bitmask visited is <= |nodes| single-longs, and
    # the per-sweep groupBy ALREADY computes the consolidated mask as
    # mb|vb for free — emitting it alongside the new bits replaces the
    # fragment list, the period-4 consolidation job, and its unions
    # (A/B in OPTIMIZATION_r12.md: 6.52 -> 6.19 s median, exact parity).
    newfrags: list[DataFrame] = []
    vis = seeds
    frontier = seeds
    for d in range(1, _HC_SWEEPS + 1):
        msgs = frontier.join(ed, frontier.node == ed.src).select(
            F.col("dst").alias("node"),
            F.col("bits").alias("mb"),
            F.lit(0).cast("long").alias("vb"),
        )
        st = (
            msgs.unionAll(
                vis.select(
                    "node", F.lit(0).cast("long").alias("mb"), F.col("bits").alias("vb")
                )
            )
            .groupBy("node")
            .agg(F.bit_or("mb").alias("mb"), F.bit_or("vb").alias("vb"))
            .select(
                "node",
                F.col("mb").bitwiseAND(F.bitwise_not(F.col("vb"))).alias("new"),
                F.col("mb").bitwiseOR(F.col("vb")).alias("bits"),
            )
            # lazy + count: the early-exit probe materializes the
            # checkpoint (eager ran a checkpoint job, then a second count
            # job — r12, same cadence lesson as q410's probe)
            .localCheckpoint(eager=False)
        )
        # r13 (VERDICT r12 item 4): probe the early exit every SECOND
        # sweep — the lazy checkpoints compose, so two sweeps' lineage
        # materializes under ONE count job, halving per-sweep job
        # submissions (per-sweep cost here is scheduling, not data:
        # decomposed at sf0.1, sweeps run ~0.3 s flat regardless of
        # frontier size). The fragment is appended BEFORE the probe, so
        # a sweep whose frontier died on the unprobed sweep appends an
        # EMPTY fragment (zero rows, zero contribution) and the next
        # probe reads 0 and exits: the (node, first-reached-sweep) set
        # is unchanged (exact-parity A/B in ab_q429_r13.py, deleted; in
        # git history at 953e8f3; 5.01 -> 4.83 s isolated median).
        newfrags.append(
            st.filter(F.col("new") != 0).select(
                "node", F.col("new").alias("bits"), F.lit(d).cast("long").alias("d")
            )
        )
        vis = st.select("node", "bits")
        frontier = st.filter(F.col("new") != 0).select(
            "node", F.col("new").alias("bits")
        )
        if (d % 2 == 0 or d == _HC_SWEEPS) and st.filter(
            F.col("new") != 0
        ).count() == 0:
            break
    if newfrags:
        reached = newfrags[0]
        for frag in newfrags[1:]:
            reached = reached.unionAll(frag)
        contrib = reached.groupBy("node").agg(
            F.sum(F.bit_count("bits").cast("long") * F.expr("1000000 div d"))
            .cast("long")
            .alias("harmonic_x1e6"),
            F.sum(F.bit_count("bits").cast("long")).cast("long").alias("n_reached"),
        )
        out = nodes.join(contrib, "node", "left")
    else:  # pragma: no cover - every sf has at least one edge per pivot
        out = nodes.select(
            "node",
            F.lit(None).cast("long").alias("harmonic_x1e6"),
            F.lit(None).cast("long").alias("n_reached"),
        )
    return out.select(
        "node",
        F.coalesce("harmonic_x1e6", F.lit(0)).cast("long").alias("harmonic_x1e6"),
        F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
    )


_PPR_SEEDS = (0, 7)


def _ppr_oracle() -> str:
    """q94's recursive replay with teleport mass restricted to the seed
    set — same fixed-point arithmetic, personalized restart vector."""
    seeds = ", ".join(str(s) for s in _PPR_SEEDS)
    return f"""
    WITH RECURSIVE e AS (
      SELECT CAST(o_custkey % 20 AS BIGINT) AS src,
             CAST(o_orderkey % 20 AS BIGINT) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders
      WHERE o_custkey % 20 <> o_orderkey % 20
      GROUP BY 1, 2
    ),
    od AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    pr(k, node, pr) AS (
      SELECT 0, src,
             CASE WHEN src IN ({seeds})
                  THEN CAST({_PR_SCALE} AS BIGINT) ELSE CAST(0 AS BIGINT) END
      FROM od
      UNION ALL
      SELECT p.k + 1, e.dst,
             CAST(CASE WHEN e.dst IN ({seeds})
                       THEN {(15 * _PR_SCALE) // 100} ELSE 0 END
                  + (85 * SUM(p.pr * e.w // od.outw)) // 100 AS BIGINT)
      FROM pr p
      JOIN e ON e.src = p.node
      JOIN od ON od.src = e.src
      WHERE p.k < {_PR_ITERS}
      GROUP BY p.k, e.dst
    )
    SELECT node AS team_id,
           CAST(pr AS DOUBLE) / {_PR_SCALE} AS ppr,
           node IN ({seeds}) AS is_seed
    FROM pr WHERE k = {_PR_ITERS}
    """


@query("q453_personalized_pagerank", oracle=_ppr_oracle())
def q453_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PAGERANK from a 2-node seed set — q94/q117's
    machinery with the teleport vector restricted to the seeds: the
    random surfer restarts AT THE SEEDS instead of uniformly, so the
    stationary mass measures proximity TO the seed set — the
    recommendation / trust-propagation / local-community primitive
    (seed = the user's items, scores = what to recommend). It runs
    q117's distributed sweeps (``_pagerank_sweeps``) with the seed set
    as the teleport predicate (``node IN (0, 7)``), which gates both the
    init vector and the restart term; every bit of the fixed-point
    discipline carries over unchanged — int64 2^20 units, floor division
    at the per-edge contribution, 10 unrolled sweeps, recursive-CTE
    oracle. Property tests: Σ ppr stays below the seed count (mass leaks
    only through dangling-free damping), seeds and their out-neighbors
    outrank the graph median, and zeroing the seed set zeroes every
    score (no teleport, no mass)."""
    teleport = f"node IN ({', '.join(str(s) for s in _PPR_SEEDS)})"
    pr = _pagerank_sweeps(_pr_edges(spark, sf_dir), teleport)
    return pr.select(
        F.col("node").alias("team_id"),
        (F.col("pr").cast("double") / _PR_SCALE).alias("ppr"),
        F.expr(teleport).alias("is_seed"),
    )
