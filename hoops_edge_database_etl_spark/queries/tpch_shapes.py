"""Remaining TPC-H plan archetypes (beyond SURVEY §2's own surface).

Round 3/4 landed Q1 (q01), Q3 (q106), Q5 (q105), Q17 (q196), Q20 (q197).
This module completes the canonical decision-support plan-shape matrix —
each query here exercises a DISTINCT optimizer/shuffle pattern a 100 TB
warehouse user hits daily, and each has an exact DuckDB oracle:

- q220 (Q7)  — disjunctive JOIN-pair predicate (nation-pair trade volume)
- q221 (Q11) — HAVING against a broadcast global-scalar threshold
- q222 (Q13) — outer-join count-of-counts (zero-preserving distribution)
- q223 (Q15) — aggregate joined back against its own MAX (ties kept)
- q224 (Q19) — OR-of-ANDs disjunctive pushdown across a join
- q225 (Q21) — EXISTS + NOT-EXISTS decorrelated into aggregate joins
- q226 (Q22) — anti join + scalar-average subquery (exact integer compare)
- q227 (Q8)  — conditional market-share ratio over a multi-join

Float parity follows the house rules (queries/joins.py:560+): money stays
DECIMAL(18,2) until one final cast-through-VARCHAR to DOUBLE; thresholds
compare as exact integer cross-multiplies, never float averages.

The reference has no TPC-H, but these shapes back its real workloads: the
gap-fill anti-joins (`src/cbbd_etl/gap_fill.py:433-478`) are Q21/Q22's
NOT-EXISTS shape, and the Athena audit SQL (`scripts/sql/*.sql`) leans on
exactly these join-agg archetypes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DEC = "decimal(18,2)"

# Exact cents: round-half-up in both engines (floor(x*100 + 0.5)).
_CENTS_SQL = "CAST(floor({col} * 100 + 0.5) AS BIGINT)"


def _cents(col: str):
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev():
    return F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC))


@query(
    "q220_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')})
                AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def q220_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bilateral nation-pair trade volume. The signature
    is the DISJUNCTIVE pair predicate ((A,B) OR (B,A)) that binds the two
    nation dims to *different* sides of the fact chain: neither branch can
    be pushed to a single scan, so Catalyst keeps it as a post-join filter
    over two broadcast-joined nation copies while the date range pushes
    into the lineitem scan. Both nation joins broadcast; the two fact-fact
    joins (lineitem↔orders, orders↔customer) shuffle on their keys. At
    100 TB the filter drops ~(2/25²) of pairs AFTER the broadcast joins —
    cheap, because broadcast joins add no shuffle; the heavy date filter
    already pruned the fact scan."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(_rev()).cast("string").cast("double").alias("revenue"),
        )
    )


@query(
    "q221_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM({_CENTS_SQL.format(col='l_extendedprice')}) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM pv)
    SELECT CAST(pv.l_partkey AS BIGINT) AS p_partkey, pv.value_cents
    FROM pv, tot
    WHERE pv.value_cents * 2000 > tot.total_cents
    """,
)
def q221_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — groups HAVING more than a FRACTION OF THE GLOBAL
    TOTAL. The scalar total is a one-row aggregate cross-joined (broadcast
    nested loop over 1 row — free) into the per-part aggregate; the
    fraction test is the exact integer cross-multiply value·2000 > Σvalue,
    never a float `> 0.0005 * sum`. One shuffle builds the per-part sums
    with map-side combine; the global total REUSES that aggregate (sums
    the |parts|-row result, not the fact table) — at 100 TB the fact
    table is read once, and the second pass runs over parts only."""
    li = load(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(_cents("l_extendedprice")).cast("bigint").alias("value_cents")
    )
    tot = pv.agg(F.sum("value_cents").cast("bigint").alias("total_cents"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 2000 > F.col("total_cents"))
        .select(
            F.col("l_partkey").cast("bigint").alias("p_partkey"), "value_cents"
        )
    )


@query(
    "q222_customer_distribution",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q222_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — COUNT-OF-COUNTS over an OUTER join. The zero
    bucket is the whole point: customers with NO (non-urgent) orders must
    survive, so the join is LEFT OUTER with the priority filter as a JOIN
    condition (an ON-clause filter on the right side — pushed to the
    orders scan), never a WHERE (which would turn the outer join inner
    and silently drop the zero bucket). Two aggregations: per-customer
    count (shuffle on custkey — same key as the join, so AQE coalesces
    into one exchange), then the tiny count-distribution rollup."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))


@query(
    "q223_top_supplier",
    oracle=f"""
    WITH sr AS (
      SELECT l_suppkey,
             CAST(CAST(SUM({_REV}) AS VARCHAR(64)) AS DOUBLE) AS total_revenue,
             SUM({_REV}) AS rev_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1998-07-01'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(rev_dec) AS max_rev FROM sr)
    SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name, sr.total_revenue
    FROM sr JOIN mx ON sr.rev_dec = mx.max_rev
    JOIN supplier s ON s.s_suppkey = sr.l_suppkey
    """,
)
def q223_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — an aggregate joined back against its OWN MAX
    (the "view + max(view)" pattern), keeping ties. The revenue stays
    DECIMAL through the max-equality compare (floats would make 'equal
    to the max' nondeterministic); the one-row max broadcast-joins back.
    ORDER BY ... LIMIT 1 would DROP ties — the equality join is the
    correct semantics, and at 100 TB it costs one extra one-row
    broadcast, not a sort. The one-row max keeps its hint; supplier is
    size-gated with no hint (r12 broadcast-growth audit: suppliers
    scale with the corpus — AQE broadcasts the dim while it fits)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-07-01")
    )
    s = load(spark, sf_dir, "supplier")
    sr = li.groupBy("l_suppkey").agg(
        F.sum(_rev()).alias("rev_dec"),
    )
    mx = sr.agg(F.max("rev_dec").alias("max_rev"))
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            F.col("rev_dec").cast("string").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q224_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM({_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')})
                AS VARCHAR(64)) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q224_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs spanning BOTH join sides. Catalyst
    factors the disjunction: the part-only envelope (brand ∈ {12,23,3}
    AND size ≤ 15) and the lineitem-only envelope (quantity ∈ [1,30])
    push to their scans as weaker per-side filters, while the full
    disjunction stays as the post-join residual. At 100 TB the envelope
    pushdown is the difference between scanning 3/25 of part row-groups
    and all of them — min/max stats prune on brand. The part join is
    size-gated, not hinted (r12 broadcast-growth audit: part scales
    with the corpus; AQE keeps the residual map-side while part fits
    and shuffles it at catalog scale)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & q.between(20, 30)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(_rev()).cast("string").cast("double").alias("revenue"),
        )
    )


@query(
    "q225_waiting_suppliers",
    oracle="""
    WITH os AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             MAX(l_shipdate) AS max_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    lastl AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN os ON os.l_orderkey = l.l_orderkey AND l.l_shipdate = os.max_ship
      WHERE os.n_supp >= 2
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    uniq AS (
      SELECT l_orderkey FROM lastl GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT CAST(ll.l_suppkey AS BIGINT) AS s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lastl ll JOIN uniq u ON u.l_orderkey = ll.l_orderkey
    GROUP BY ll.l_suppkey
    """,
)
def q225_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — EXISTS (another supplier on the order) AND
    NOT EXISTS (another supplier shipping as late) DECORRELATED into
    aggregate joins: per-order stats once (distinct-supplier count, max
    shipdate), the latest-shippers per order, and a uniqueness gate —
    the supplier "kept the order waiting" iff it is the SOLE latest
    shipper on a multi-supplier order. The correlated form re-scans
    lineitem per row; r12 (guide §2.3, "aggregate before you shuffle")
    collapses the old two-scan plan to ONE fact scan: a supplier has a
    line at the order's max shipdate iff its per-(order, supplier) MAX
    shipdate equals the order max, so the map-side-combined
    groupBy(orderkey, suppkey) rollup replaces both the second lineitem
    scan and the fact-vs-stats join — every later join runs on the
    pair rollup (≈ distinct (order, supplier) pairs, a fraction of the
    fact rows), and the uniqueness gate is a window over the already
    order-partitioned join output instead of another shuffle+semi-join.
    Oracle unchanged, hash-certified. The reference's gap-fill
    discovery (`src/cbbd_etl/gap_fill.py:433-478`) is this same
    exists/not-exists shape over missing endpoints."""
    li = load(spark, sf_dir, "lineitem")
    # the pair rollup feeds two consumers (order stats + the max-match
    # join); both sit over the IDENTICAL canonical subtree (scan →
    # partial max → Exchange on (l_orderkey, l_suppkey)), so AQE reuses
    # the materialized shuffle stage at RUNTIME — the static explain
    # still prints two scans, but the final adaptive plan shows
    # ShuffleQueryStage 2 as a ReusedExchange of stage 0's exchange
    # (captured in plans/r12/q225_waiting_suppliers_final.txt): the
    # fact table is scanned ONCE per execution. A localCheckpoint was
    # measured SLOWER (same-session interleaved A/B, 5 reps at sf0.1:
    # no-ckpt 1.98 s [1.74, 2.02] vs lazy-ckpt 2.24 s [1.61, 2.70] vs
    # eager 2.28 s) because the block write/read costs more than the
    # reuse AQE already provides (ab_q225_r12.py, deleted; in git history
    # at 953e8f3)
    ps = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("sm"))
    os_ = ps.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.max("sm").alias("max_ship"),
    ).filter(F.col("n_supp") >= 2)
    lastl = ps.join(
        os_, (ps.l_orderkey == os_.ok) & (ps.sm == os_.max_ship)
    ).select("ok", "l_suppkey")
    wn = Window.partitionBy("ok")
    return (
        lastl.withColumn("n_last", F.count(F.lit(1)).over(wn))
        .filter(F.col("n_last") == 1)
        .groupBy(F.col("l_suppkey").cast("bigint").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(
    "q226_sales_opportunity",
    oracle="""
    WITH cb AS (
      SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer
    ),
    avgpos AS (
      SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_pos,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM cb WHERE bal_cents > 0
    )
    SELECT CAST(cb.c_nationkey AS BIGINT) AS cntry,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(cb.bal_cents) AS BIGINT) AS total_bal_cents
    FROM cb, avgpos
    WHERE cb.bal_cents * avgpos.n_pos > avgpos.sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = cb.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cb.c_nationkey
    """,
)
def q226_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — ANTI JOIN + SCALAR-AVERAGE subquery: rich
    customers (balance above the positive-balance average) with no
    RECENT orders (none since 2000-01-01 — every customer has SOME
    order in this dataset, so the recency filter keeps the anti join
    meaningful AND pushes a date predicate into the orders scan),
    grouped by country. The average compare is exact:
    bal·n_pos > Σpos in integer cents (bal > avg ⟺ bal·n > Σ — the
    q136/q196 no-float-average rule). The scalar aggregate broadcasts
    (one row); the NOT EXISTS is a real LEFT ANTI against order custkeys
    — at 100 TB the anti join's build side is orders' distinct custkeys,
    and Catalyst ships it as a shuffled hash anti join on the same
    custkey partitioning the group-by reuses."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        _cents("c_acctbal").alias("bal_cents"),
    )
    avgpos = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").cast("bigint").alias("sum_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(avgpos)).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos")
    )
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("cntry"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.sum("bal_cents").cast("bigint").alias("total_bal_cents"),
        )
    )


@query(
    "q227_market_share",
    oracle=f"""
    WITH j AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_REV.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS rev,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation nc   ON nc.n_nationkey = c.c_nationkey
      JOIN region r    ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation ns   ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS VARCHAR(64)) AS DOUBLE) AS nation_revenue,
           CAST(CAST(SUM(rev) AS VARCHAR(64)) AS DOUBLE) AS total_revenue,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS VARCHAR(64)) AS DOUBLE)
             / CAST(CAST(SUM(rev) AS VARCHAR(64)) AS DOUBLE) AS mkt_share
    FROM j GROUP BY o_year
    """,
)
def q227_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — CONDITIONAL MARKET SHARE: one nation's fraction
    of a region's revenue per year, as a single pass (numerator via
    CASE/when inside the same aggregate — never two scans joined). Both
    sums stay DECIMAL; the share divides the two already-rounded DOUBLEs
    so Spark and DuckDB perform the identical IEEE division. Fixed dims
    (nation ×2, region) broadcast by hint; supplier is size-gated with
    no hint (r12 audit: it scales); customer⋈orders⋈lineitem
    are the only guaranteed shuffles. The customer-region filter prunes through the
    broadcast join BEFORE the fact shuffle — Catalyst pushes the
    region-key IN-set down to the customer scan."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    nc = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nat_rev = F.when(F.col("supp_nation") == "NATION_5", _rev()).otherwise(
        F.lit(0).cast(DEC)
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        # supplier: size-gated, no hint (r12 audit — scales with corpus)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(nat_rev).cast("string").cast("double").alias("nation_revenue"),
            F.sum(_rev()).cast("string").cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        "o_year",
        "nation_revenue",
        "total_revenue",
        (F.col("nation_revenue") / F.col("total_revenue")).alias("mkt_share"),
    )


@query(
    "q310_price_volume_mix",
    oracle="""
    WITH yr AS (
      SELECT l_partkey,
             CASE WHEN CAST(l_shipdate AS DATE) < DATE '1996-01-01'
                  THEN 0 ELSE 1 END AS y,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1997-01-01'
    ),
    per AS (
      SELECT l_partkey,
             CAST(SUM(CASE WHEN y = 0 THEN qty ELSE 0 END) AS BIGINT) AS qty_a,
             CAST(SUM(CASE WHEN y = 1 THEN qty ELSE 0 END) AS BIGINT) AS qty_b,
             CAST(SUM(CASE WHEN y = 0 THEN cents ELSE 0 END) AS BIGINT) AS rev_a,
             CAST(SUM(CASE WHEN y = 1 THEN cents ELSE 0 END) AS BIGINT) AS rev_b
      FROM yr GROUP BY l_partkey
    ),
    eff AS (
      SELECT l_partkey, qty_a, qty_b, rev_a, rev_b,
             rev_b - rev_a AS delta_rev,
             CAST(rev_a AS DOUBLE) * (qty_b - qty_a) / qty_a AS volume_effect,
             (rev_b - rev_a)
               - CAST(rev_a AS DOUBLE) * (qty_b - qty_a) / qty_a AS price_effect
      FROM per WHERE qty_a > 0 AND qty_b > 0
    )
    SELECT CAST(l_partkey AS BIGINT) AS partkey, qty_a, qty_b, rev_a, rev_b,
           CAST(delta_rev AS BIGINT) AS delta_rev_cents,
           volume_effect, price_effect
    FROM eff
    ORDER BY abs(delta_rev) DESC, l_partkey
    LIMIT 20
    """,
)
def q310_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-VOLUME-MIX decomposition — the FP&A bridge explaining WHY
    revenue moved between two fiscal years: per part,
    ΔRev = p_a·Δq (volume effect: sold more units at old prices)
         + Δp·q_b (price effect: new prices on the new volume),
    an exact algebraic identity (no unexplained residual — the "mix"
    term is absorbed into price, the standard two-factor bridge).
    Period sums are exact integers (qty units, revenue cents); the
    average price p_a = rev_a/qty_a enters through ONE division per
    part at the report edge — volume_effect and the delta it splits
    are derived from the same integers in the same expression order on
    both engines (the identity volume + price == Δrev is exact in
    floats too, price being computed BY subtraction — property-
    tested). Plan: a year-bucketed conditional aggregate per part (one
    shuffle, map-side combined), then a top-20-by-|ΔRev| report — the
    q03 bounded-output rule. The per-part rows are the drill-down a
    CFO dashboard wants; parts absent from either year are excluded
    (their bridge is trivially all-volume)."""
    li = load(spark, sf_dir, "lineitem")
    yr = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select(
        "l_partkey",
        F.when(
            F.col("l_shipdate") < F.lit("1996-01-01").cast("date"), 0
        )
        .otherwise(1)
        .alias("y"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per = yr.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("y") == 0, F.col("qty")).otherwise(0))
        .cast("bigint").alias("qty_a"),
        F.sum(F.when(F.col("y") == 1, F.col("qty")).otherwise(0))
        .cast("bigint").alias("qty_b"),
        F.sum(F.when(F.col("y") == 0, F.col("cents")).otherwise(0))
        .cast("bigint").alias("rev_a"),
        F.sum(F.when(F.col("y") == 1, F.col("cents")).otherwise(0))
        .cast("bigint").alias("rev_b"),
    )
    eff = per.filter((F.col("qty_a") > 0) & (F.col("qty_b") > 0)).select(
        F.col("l_partkey").cast("bigint").alias("partkey"),
        "qty_a",
        "qty_b",
        "rev_a",
        "rev_b",
        (F.col("rev_b") - F.col("rev_a")).cast("bigint").alias("delta_rev_cents"),
        (
            F.col("rev_a").cast("double")
            * (F.col("qty_b") - F.col("qty_a"))
            / F.col("qty_a")
        ).alias("volume_effect"),
        (
            (F.col("rev_b") - F.col("rev_a"))
            - F.col("rev_a").cast("double")
            * (F.col("qty_b") - F.col("qty_a"))
            / F.col("qty_a")
        ).alias("price_effect"),
    )
    return eff.orderBy(
        F.abs("delta_rev_cents").desc(), "partkey"
    ).limit(20)


AGING_SNAPSHOT = "1996-06-01"
AGING_BUCKETS = (30, 60, 90)  # days-past thresholds


@query(
    "q382_aging_buckets",
    oracle=f"""
    WITH open_orders AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CAST(DATE '{AGING_SNAPSHOT}' - CAST(o.o_orderdate AS DATE)
               AS BIGINT) AS age_days,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      WHERE CAST(o.o_orderdate AS DATE) < DATE '{AGING_SNAPSHOT}'
        AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND CAST(l.l_shipdate AS DATE) > DATE '{AGING_SNAPSHOT}'
        )
    ),
    bucketed AS (
      SELECT o_orderpriority,
             CASE WHEN age_days <= {AGING_BUCKETS[0]} THEN 'current'
                  WHEN age_days <= {AGING_BUCKETS[1]} THEN '31-60'
                  WHEN age_days <= {AGING_BUCKETS[2]} THEN '61-90'
                  ELSE '90+' END AS bucket,
             cents
      FROM open_orders
    )
    SELECT o_orderpriority, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS open_cents
    FROM bucketed GROUP BY o_orderpriority, bucket
    """,
)
def q382_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGING BUCKETS — the receivables/backlog waterfall every finance
    close produces: orders still OPEN at a snapshot date (placed
    before it, with at least one line yet to ship — a LEFT SEMI
    against the future-shipment condition, the q197 aggregate-
    threshold shape), laid out by priority x age bucket
    (current / 31-60 / 61-90 / 90+ days). The aging bucket is a
    literal CASE ladder over integer day differences — no float, no
    calendar function drift (q292's rule); the semi-join is the only
    real work and it shuffles on the order key both sides already
    carry. The property test cross-checks totals against an
    independent open-order count and that bucket boundaries land
    exactly (an order aged 30 days is 'current', 31 is not — the
    off-by-one every aging report ships once)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    snap = F.lit(AGING_SNAPSHOT).cast("date")
    future_lines = li.filter(F.to_date("l_shipdate") > snap).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    open_orders = (
        o.filter(F.to_date("o_orderdate") < snap)
        .join(future_lines, "o_orderkey", "semi")
        .select(
            "o_orderpriority",
            F.datediff(snap, F.to_date("o_orderdate"))
            .cast("long")
            .alias("age_days"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    b0, b1, b2 = AGING_BUCKETS
    bucket = (
        F.when(F.col("age_days") <= b0, "current")
        .when(F.col("age_days") <= b1, "31-60")
        .when(F.col("age_days") <= b2, "61-90")
        .otherwise("90+")
    )
    return open_orders.groupBy("o_orderpriority", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("open_cents"),
    )


@query(
    "q388_totals_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS line_cents
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
             li.line_cents
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    banded AS (
      SELECT CASE
               WHEN line_cents IS NULL THEN 'no_lines'
               WHEN header_cents = line_cents THEN 'exact'
               WHEN abs(header_cents - line_cents) * 20 <= line_cents
                 THEN 'within_5pct'
               WHEN abs(header_cents - line_cents) * 4 <= line_cents
                 THEN 'within_25pct'
               WHEN header_cents > line_cents THEN 'over_25pct_high'
               ELSE 'over_25pct_low' END AS band,
             header_cents,
             COALESCE(line_cents, 0) AS line_cents
      FROM j
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(header_cents) AS BIGINT) AS header_cents,
           CAST(SUM(line_cents) AS BIGINT) AS line_cents,
           CAST(SUM(abs(header_cents - line_cents)) AS BIGINT)
             AS abs_gap_cents
    FROM banded GROUP BY band
    """,
)
def q388_totals_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADER-vs-DETAIL RECONCILIATION — the audit every finance close
    runs: does the order header total equal the sum of its lines?
    Banded by RELATIVE gap using pure integer cross-multiplied
    comparisons (|Δ|·20 <= lines is "within 5%" — no float ratio, no
    negative-division trap), with the line-less orders (q291's
    orphan fact) as their own band. On this synthetic data the answer
    is loud — ZERO orders reconcile exactly, gaps run to ±$700k —
    which is precisely the report's value: a reconciliation query
    that assumed the invariant instead of measuring it would have
    propagated header revenue and line revenue as interchangeable
    when they differ materially (they feed q12 and q01
    respectively — this query is WHY the repo always names which).
    One grouped line-sum + one left join + a banded rollup; at 100 TB
    the join shuffles on the key both tables already carry."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sums = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("line_cents")
    )
    j = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("header_cents"),
    ).join(sums, "o_orderkey", "left")
    gap = F.abs(F.col("header_cents") - F.col("line_cents"))
    band = (
        F.when(F.col("line_cents").isNull(), "no_lines")
        .when(F.col("header_cents") == F.col("line_cents"), "exact")
        .when(gap * 20 <= F.col("line_cents"), "within_5pct")
        .when(gap * 4 <= F.col("line_cents"), "within_25pct")
        .when(F.col("header_cents") > F.col("line_cents"), "over_25pct_high")
        .otherwise("over_25pct_low")
    )
    banded = j.select(
        band.alias("band"),
        "header_cents",
        F.coalesce("line_cents", F.lit(0)).cast("long").alias("line_cents"),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("header_cents").cast("bigint").alias("header_cents"),
        F.sum("line_cents").cast("bigint").alias("line_cents"),
        F.sum(F.abs(F.col("header_cents") - F.col("line_cents")))
        .cast("bigint")
        .alias("abs_gap_cents"),
    )


CARRY_RATE_PPM_PER_DAY = 500  # 0.05%/day holding cost


@query(
    "q398_carrying_cost",
    oracle=f"""
    WITH open_orders AS (
      SELECT o.o_orderpriority,
             CAST(DATE '{AGING_SNAPSHOT}' - CAST(o.o_orderdate AS DATE)
               AS BIGINT) AS age_days,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      WHERE CAST(o.o_orderdate AS DATE) < DATE '{AGING_SNAPSHOT}'
        AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND CAST(l.l_shipdate AS DATE) > DATE '{AGING_SNAPSHOT}'
        )
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS open_cents,
           CAST(SUM(cents * age_days) AS BIGINT) AS cent_days,
           CAST(SUM(cents * age_days) * {CARRY_RATE_PPM_PER_DAY}
                // 1000000 AS BIGINT) AS carrying_cost_cents
    FROM open_orders GROUP BY o_orderpriority
    """,
)
def q398_carrying_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CARRYING COST — q382 lays the open book out by age bucket; this
    prices it: holding cost accrues per cent-day (value x days open x
    a 500 ppm/day rate — the cost-of-capital +
    storage + obsolescence rate finance hands you), so the metric
    that matters is Σ cents·age_days, an EXACT integer that buckets
    destroy (two orders in '61-90' can differ 30 days of accrual).
    cent_days is also the right prioritization key for a collections
    or expedite queue — it ranks by money-time at risk, not by count
    or age alone. Same open-order semi join as q382; one weighted
    sum; the rate applies in one ppm floor division at the edge so
    a rate change is a literal swap, not a rescan. Property-tested:
    cent_days >= open_cents x min-age per group and the q382
    reconciliation (same open population)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    snap = F.lit(AGING_SNAPSHOT).cast("date")
    future_lines = li.filter(F.to_date("l_shipdate") > snap).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    open_orders = (
        o.filter(F.to_date("o_orderdate") < snap)
        .join(future_lines, "o_orderkey", "semi")
        .select(
            "o_orderpriority",
            F.datediff(snap, F.to_date("o_orderdate")).cast("long").alias("age_days"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    return open_orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("open_cents"),
        F.sum(F.col("cents") * F.col("age_days")).cast("bigint").alias("cent_days"),
        F.expr(
            f"SUM(cents * age_days) * {CARRY_RATE_PPM_PER_DAY} DIV 1000000"
        )
        .cast("bigint")
        .alias("carrying_cost_cents"),
    )


@query(
    "q426_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             CAST(MIN(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cost_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY 1, 2
    )
    SELECT p.p_partkey, p.p_brand, c.suppkey AS best_suppkey, c.cost_c
    FROM part p
    JOIN cost c ON c.partkey = p.p_partkey
    WHERE p.p_size >= 45
      AND c.cost_c = (SELECT MIN(c2.cost_c) FROM cost c2
                      WHERE c2.partkey = c.partkey)
      AND c.suppkey = (SELECT MIN(c3.suppkey) FROM cost c3
                       WHERE c3.partkey = c.partkey
                         AND c3.cost_c = (SELECT MIN(c4.cost_c) FROM cost c4
                                          WHERE c4.partkey = c.partkey))
    """,
)
def q426_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 SHAPE — minimum-cost supplier per part within a region:
    the classic CORRELATED-MIN-SUBQUERY query (`WHERE cost = (SELECT
    MIN(cost) ... WHERE same part)`), completing the TPC-H shape
    gallery (Q1 q01, Q3 q106, Q5 q105, Q7 q220, Q8 q227, Q11 q221,
    Q13 q222, Q21-ish q225). The partsupp table doesn't exist in this
    star schema, so supply cost derives from lineitem (min observed
    cents per part × supplier, region-filtered through the
    supplier→nation→region dimension chain — nation/region broadcast
    by hint; the supplier key set is size-gated since it scales with
    the corpus, r12 audit). The ENGINE story is the point: the oracle runs the
    textbook correlated subquery (with a nested tiebreak subquery for
    the min-suppkey winner); Spark runs the DECORRELATED plan a real
    optimizer would pick — ONE window argmin (ROW_NUMBER over
    (cost_c, suppkey) per part) with zero self-joins — and the hash
    proves the two formulations equivalent. Costs are exact cents so
    the min-equality join has no float-equality trap. At 100 TB the
    cost CTE is the only big aggregate (map-side combinable); the
    window runs per-part after that reduction."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part")
    asia_supps = (
        s.join(
            F.broadcast(n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                               n.n_regionkey == F.col("r_regionkey"))),
            s.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    cost = (
        # asia_supps is a fifth of the supplier dim — scales with the
        # corpus, so size-gated with no hint (r12 broadcast-growth audit)
        li.join(asia_supps, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.min(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cost_c")
        )
    )
    w = Window.partitionBy("partkey").orderBy("cost_c", "suppkey")
    best = (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        p.filter(F.col("p_size") >= 45)
        .join(best, p.p_partkey == best.partkey)
        .select(
            "p_partkey",
            "p_brand",
            F.col("suppkey").alias("best_suppkey"),
            "cost_c",
        )
    )


@query(
    "q435_python_udtf",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(o_orderkey % 4 + 2 AS BIGINT) AS k
      FROM orders WHERE o_orderkey % 31 = 0
    )
    SELECT b.o_orderkey, CAST(gs.i AS BIGINT) AS i,
           CAST(b.cents // b.k
                + CASE WHEN gs.i <= b.cents % b.k THEN 1 ELSE 0 END
                AS BIGINT) AS amount
    FROM base b, (SELECT UNNEST(range(1, 6)) AS i) gs
    WHERE gs.i <= b.k
    """,
)
def q435_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON UDTF — the §2.9 table-function surface (new in Spark 4's
    Python UDTF API): an `installments(cents, k)` generator registered
    with `spark.udtf.register` and invoked through a LATERAL join,
    splitting each order's exact cents into k largest-remainder
    installments (q267's apportionment as a ROW-GENERATING function —
    base = cents div k, the first cents mod k installments get the
    extra cent, Σ ≡ cents by construction, property-tested). The
    honest engineering note lives here too: a UDTF is the SLOW PATH —
    this exact expansion is expressible as the built-in
    sequence+explode the ORACLE uses (and that a pure-SQL Spark
    variant would use; the orderkey-residue filter bounds the fan-out
    either way) — so the surface exists for logic that genuinely
    cannot be a generator expression, and the hash check proves the
    UDTF route is semantically identical to the declarative one. Rows
    stream Arrow-batched through the Python worker; the LATERAL join
    keys the expansion to each input row without a shuffle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="i: long, amount: long")
    class Installments:
        def eval(self, cents: int, k: int):
            base, rem = divmod(cents, k)
            for i in range(1, k + 1):
                yield i, base + (1 if i <= rem else 0)

    spark.udtf.register("q435_installments", Installments)
    from hoops_edge_database_etl_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT b.o_orderkey, s.i, s.amount
        FROM (
          SELECT o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(o_orderkey % 4 + 2 AS BIGINT) AS k
          FROM orders WHERE o_orderkey % 31 = 0
        ) b,
        LATERAL q435_installments(b.cents, b.k) s
        """
    )
