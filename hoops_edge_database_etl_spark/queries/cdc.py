"""Change-data-capture / dimension-maintenance operators: SCD type-2
merge and snapshot diff — the incremental-warehouse half of the
reference's silver repair loop (gap_fill.py:79-171 finds what changed;
these apply it). Both derive their "before/after" inputs
deterministically from the star schema so the DuckDB oracle replays the
identical merge.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load

DEC = "decimal(18,2)"


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    pk: Sequence[str],
    version_col: str = "version",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2: rows of ``updates`` supersede the
    matching ``current`` rows — the old row survives closed
    (is_current=false), the new row opens at version+1. Keys absent from
    ``updates`` pass through untouched; brand-new keys insert at version 1.

    Plan shape: ONE left join of current onto updates (hash on pk) plus a
    union with the update rows — no windows, no per-key sort; at 100 TB
    both sides shuffle once on the pk and AQE handles the (usually tiny)
    update side by broadcasting it.
    """
    pk = list(pk)
    # a literal hit marker, not a value column: an update whose payload is
    # legitimately NULL must still close the current row
    u = updates.select(*pk, F.lit(True).alias("__u_hit"))
    joined = current.join(u, pk, "left")
    changed = F.col("__u_hit").isNotNull()
    kept = joined.select(
        *current.columns,
        F.when(changed, F.lit(False)).otherwise(F.col(current_col)).alias("__nc"),
    ).drop(current_col).withColumnRenamed("__nc", current_col)
    cur_versions = current.groupBy(*pk).agg(F.max(version_col).alias("__maxv"))
    opened = (
        updates.join(cur_versions, pk, "left")
        .withColumn(version_col, F.coalesce(F.col("__maxv"), F.lit(0)) + 1)
        .withColumn(current_col, F.lit(True))
        .drop("__maxv")
    )
    return kept.unionByName(opened.select(*kept.columns))


@query(
    "q101_scd2_merge",
    oracle="""
    WITH current AS (
      SELECT c_custkey,
             c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
             CAST(1 AS BIGINT) AS version,
             TRUE AS is_current
      FROM customer
    ),
    updates AS (
      SELECT c_custkey,
             c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE) AS acctbal
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment, acctbal,
           version,
           CASE WHEN c_custkey % 3 = 0 THEN FALSE ELSE is_current END AS is_current
    FROM current
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT), c_mktsegment, acctbal,
           CAST(2 AS BIGINT), TRUE
    FROM updates
    """,
)
def q101_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension merge through :func:`scd2_apply`: a batch of
    changed customer balances (custkey % 3, +100) closes the matching
    version-1 rows and opens version-2 rows; untouched keys pass through.
    The oracle replays the same merge declaratively — row-identical
    history table including versions and current flags."""
    c = load(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast(DEC).cast("double").alias("acctbal"),
        F.lit(1).cast("bigint").alias("version"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast(DEC) + 100).cast("double").alias("acctbal"),
    )
    out = scd2_apply(current, updates, ["c_custkey"])
    return out.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_mktsegment",
        "acctbal",
        F.col("version").cast("bigint").alias("version"),
        "is_current",
    )


@query(
    "q102_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v
      FROM orders WHERE o_orderkey % 1000 <> 1
    ),
    b AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CASE WHEN o_orderkey % 500 = 0 THEN 10 ELSE 0 END AS DOUBLE) AS v
      FROM orders WHERE o_orderkey % 1000 <> 2
    )
    SELECT CAST(COALESCE(a.k, b.k) AS BIGINT) AS o_orderkey,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.v <> b.v THEN 'changed'
                ELSE 'unchanged' END AS change,
           a.v AS old_value, b.v AS new_value
    FROM a FULL OUTER JOIN b ON a.k = b.k
    WHERE NOT (a.k IS NOT NULL AND b.k IS NOT NULL AND a.v = b.v)
    """,
)
def q102_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC extraction between two table versions): full
    outer join on the PK classifying every key as added / removed /
    changed, unchanged rows dropped — the audit the reference ran as
    Athena row-count SQL plus Python set math, as ONE distributed join.
    Synthetic before/after snapshots are carved from orders (one key
    dropped each way, prices bumped on %500) so both engines diff the
    same pair."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 1000 != 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast(DEC).cast("double").alias("va"),
    )
    b = o.filter(F.col("o_orderkey") % 1000 != 2).select(
        F.col("o_orderkey").alias("k"),
        (
            F.col("o_totalprice").cast(DEC)
            + F.when(F.col("o_orderkey") % 500 == 0, 10).otherwise(0)
        ).cast("double").alias("vb"),
    )
    j = a.join(b, "k", "full_outer")
    change = (
        F.when(F.col("va").isNull(), "added")
        .when(F.col("vb").isNull(), "removed")
        .when(F.col("va") != F.col("vb"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.col("k").cast("bigint").alias("o_orderkey"),
            change.alias("change"),
            F.col("va").alias("old_value"),
            F.col("vb").alias("new_value"),
        )
        .filter(F.col("change") != "unchanged")
    )


# --- incremental aggregate maintenance (q134) -----------------------------

INC_SPLIT = "1997-01-01"


def merge_partial_aggs(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge mergeable partial-aggregate states (n / sum columns) from any
    number of batches into the exact full aggregate: counts and sums
    re-SUM; derived ratios (avg) are computed only AFTER the merge —
    never averaged across batches. One shuffle on the group keys, input
    is |keys|·|batches| partial rows, not raw data."""
    keys = list(keys)
    val_cols = [c for c in partials.columns if c not in keys]
    return partials.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in val_cols]
    )


@query(
    "q134_incremental_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q134_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the lineitem pricing
    rollup is computed as TWO independent partial-aggregate batches —
    the "already materialized" base (shipdate < {INC_SPLIT}) and the
    "newly arrived" delta (≥ {INC_SPLIT}) — whose mergeable states
    (count + DECIMAL sums) re-aggregate to EXACTLY the from-scratch
    answer (the shared oracle is the plain full GROUP BY; DECIMAL
    partials make the merge order-insensitive, which float sums are
    not). avg is derived from merged sums, never averaged across
    batches. This is the nightly-ETL contract the reference rebuilds
    from scratch per season (gold/runner.py --season): at 100 TB the
    delta batch is the only data touched — base state is |keys| rows
    read back from the MV — so maintenance cost is O(delta), not
    O(history). Insert-only deltas here; retractions would carry
    negative partials through the identical merge.""".format(
        INC_SPLIT=INC_SPLIT
    )
    li = load(spark, sf_dir, "lineitem")

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("sum_price"),
        )
    base = partial(li.filter(F.col("l_shipdate") < INC_SPLIT))
    delta = partial(li.filter(F.col("l_shipdate") >= INC_SPLIT))
    merged = merge_partial_aggs(
        base.unionByName(delta), ["l_returnflag", "l_linestatus"]
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
        (F.col("sum_qty").cast("double") / F.col("n").cast("double"))
        .cast("double")
        .alias("avg_qty"),
    )


# ---------------------------------------------------------------------------
# Merkle-style table reconciliation (q173): which key ranges of two replicas
# differ, WITHOUT shipping either table. Anti-entropy repair (Dynamo/
# Cassandra) and cross-region migration validation both run this shape.
# ---------------------------------------------------------------------------

MERKLE_BUCKETS = 256


@query(
    "q173_merkle_table_diff",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey % {MERKLE_BUCKETS} AS bucket,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                    || o_orderstatus || '|'
                    || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)),
                  1, 8) AS BIGINT) AS h
      FROM orders
    ),
    b AS (
      SELECT o_orderkey % {MERKLE_BUCKETS} AS bucket,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                    || o_orderstatus || '|'
                    || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                            + CASE WHEN o_orderkey % 991 = 1 THEN 100 ELSE 0 END
                            AS VARCHAR)),
                  1, 8) AS BIGINT) AS h
      FROM orders WHERE o_orderkey % 997 <> 0
    ),
    ga AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a,
                  CAST(SUM(h) AS BIGINT) AS sum_a FROM a GROUP BY bucket),
    gb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b,
                  CAST(SUM(h) AS BIGINT) AS sum_b FROM b GROUP BY bucket)
    SELECT COALESCE(ga.bucket, gb.bucket) AS bucket,
           COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
           COALESCE(sum_a, 0) AS sum_a, COALESCE(sum_b, 0) AS sum_b
    FROM ga FULL OUTER JOIN gb ON gb.bucket = ga.bucket
    WHERE COALESCE(n_a, 0) <> COALESCE(n_b, 0)
       OR COALESCE(sum_a, 0) <> COALESCE(sum_b, 0)
    """,
)
def q173_merkle_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica reconciliation by bucket checksum: hash every row's content
    to a 32-bit integer (md5 head — commutative int64 SUM per bucket is
    order- and partition-independent), reduce each replica to
    MERKLE_BUCKETS=256 (bucket, count, checksum) rows, and full-outer join
    the two 256-row summaries — only buckets whose checksum or count
    disagree surface. Replica B is simulated IN-PLAN: drop every 997th
    key (lost rows) and corrupt every 991st price by one dollar
    (bit rot); the query's job is to localize exactly those buckets.

    At 100 TB the exchange is two 256-row tables — the entire comparison
    ships kilobytes regardless of table size; drill-down re-runs the same
    query re-bucketed WITHIN a dirty bucket (bucket tree = Merkle tree,
    log_B(n) rounds to row-level isolation). Content-hash sums tolerate
    row order, partitioning, and file layout differences — exactly what
    file-level checksums cannot."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def checksummed(df: DataFrame, cents_col: F.Column) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("|"),
                        F.col("o_orderstatus"),
                        F.lit("|"),
                        cents_col.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return df.groupBy((F.col("o_orderkey") % MERKLE_BUCKETS).alias("bucket")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(h).cast("bigint").alias("s"),
        )

    ga = checksummed(o, cents).select(
        "bucket", F.col("n").alias("n_a"), F.col("s").alias("sum_a")
    )
    gb = checksummed(
        o.filter(F.col("o_orderkey") % 997 != 0),
        cents + F.when(F.col("o_orderkey") % 991 == 1, 100).otherwise(0),
    ).select("bucket", F.col("n").alias("n_b"), F.col("s").alias("sum_b"))
    return (
        ga.join(gb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            F.coalesce("sum_a", F.lit(0)).alias("sum_a"),
            F.coalesce("sum_b", F.lit(0)).alias("sum_b"),
        )
        .filter((F.col("n_a") != F.col("n_b")) | (F.col("sum_a") != F.col("sum_b")))
    )


# ---------------------------------------------------------------------------
# MERGE INTO semantics (q180): apply a CDC batch (upserts + deletes) to a
# base table in one declarative pass — the lakehouse write path (Delta/
# Iceberg MERGE) as a pure full-outer resolution, no engine extension.
# ---------------------------------------------------------------------------


@query(
    "q180_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    batch AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op,
             'X' AS status,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1 AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT COALESCE(b.k, c.k) AS k,
             CASE WHEN c.op = 'U' THEN c.status ELSE b.status END AS status,
             CASE WHEN c.op = 'U' THEN c.cents ELSE b.cents END AS cents,
             CASE
               WHEN c.op = 'D' THEN 'deleted'
               WHEN c.op = 'U' AND b.k IS NULL THEN 'inserted'
               WHEN c.op = 'U' THEN 'updated'
               ELSE 'kept'
             END AS action
      FROM base b FULL OUTER JOIN batch c ON c.k = b.k
      WHERE NOT (c.op = 'D' AND b.k IS NULL)  -- delete of absent key: no-op
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN action = 'deleted' THEN 0 ELSE cents END) AS BIGINT)
             AS surviving_cents
    FROM merged GROUP BY action
    """,
)
def q180_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as one declarative plan: base FULL OUTER JOIN the CDC
    batch on the key, then per-row resolution — matched+U → update,
    matched+D → delete, unmatched+U → insert, delete-of-absent → no-op
    (the Delta/Iceberg matrix, including the tombstone row that a plain
    upsert misses). Base and batch are both carved from orders IN-PLAN
    (base: keys ∤3; batch: keys ∤2, every 5th a delete) so the overlap
    exercises all four actions; output is the bounded per-action audit a
    MERGE commits to its transaction log.

    Scale: ONE co-partitioned shuffle join on the merge key — exactly
    what Delta's MERGE plans under the hood (minus file rewrite
    bookkeeping, which is S6/S13's layer). q101's SCD2 keeps history;
    THIS is the overwrite-in-place sibling."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U").alias("op"),
        F.lit("X").alias("c_status"),
        (cents + 1).alias("c_cents"),
    )
    m = base.join(batch, "k", "full_outer").filter(
        ~((F.col("op") == "D") & F.col("status").isNull())
    )
    resolved = m.select(
        F.when(F.col("op") == "U", F.col("c_status"))
        .otherwise(F.col("status"))
        .alias("status"),
        F.when(F.col("op") == "U", F.col("c_cents"))
        .otherwise(F.col("cents"))
        .alias("cents"),
        F.when(F.col("op") == "D", "deleted")
        .when((F.col("op") == "U") & F.col("status").isNull(), "inserted")
        .when(F.col("op") == "U", "updated")
        .otherwise("kept")
        .alias("action"),
    )
    return resolved.groupBy("action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("action") == "deleted", 0).otherwise(F.col("cents")))
        .cast("bigint")
        .alias("surviving_cents"),
    )


# ---------------------------------------------------------------------------
# CDC log compaction (q195): collapse a Debezium-style op log (multiple
# I/U/D per key over time) to the net final state — the snapshot builder
# that turns a change feed back into a table.
# ---------------------------------------------------------------------------


@query(
    "q195_cdc_compaction",
    oracle="""
    WITH log AS (
      SELECT o_orderkey % 5000 AS k,
             o_orderkey AS seq,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                  WHEN o_orderkey % 2 = 0 THEN 'U' ELSE 'I' END AS op,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    latest AS (
      SELECT k, op, cents FROM (
        SELECT k, op, cents,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
           CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones,
           CAST(SUM(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT) AS live_cents,
           CAST((SELECT COUNT(*) FROM log) AS BIGINT) AS n_log_entries
    FROM latest
    """,
)
def q195_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed compaction: each key keeps only its LATEST op (strict
    sequence-number order — latest-wins, the Kafka compacted-topic /
    Debezium snapshot rule), a trailing delete leaves a tombstone, and
    the output is the live-table audit. The op log is carved in-plan
    (orders folded onto 5 000 keys, ~3 ops per key, op derived from the
    key so both engines replay the identical feed).

    Shape: latest-per-key is the q34 pattern — one shuffle on the key, a
    ROW_NUMBER over each key's (bounded) op history, no self-join against
    a MAX-subquery. At 100 TB this is exactly how a feed with billions
    of rows per day compacts: partition by key, keep rank 1, partial
    tombstone counts map-side."""
    o = load(spark, sf_dir, "orders")
    log = o.select(
        (F.col("o_orderkey") % 5000).alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 0, "D")
        .when(F.col("o_orderkey") % 2 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (
        log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    n_log = log.agg(F.count(F.lit(1)).cast("bigint").alias("n_log_entries"))
    out = latest.agg(
        F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).cast("bigint").alias("n_live"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).cast("bigint")
        .alias("n_tombstones"),
        F.sum(F.when(F.col("op") != "D", F.col("cents")).otherwise(0)).cast("bigint")
        .alias("live_cents"),
    )
    return out.crossJoin(F.broadcast(n_log))


# ---------------------------------------------------------------------------
# Golden-record survivorship (q210): MDM's merge step — duplicate records
# of one entity collapse to a single best row, field by field.
# ---------------------------------------------------------------------------


@query(
    "q210_golden_record",
    oracle="""
    WITH versions AS (
      SELECT c_custkey AS k, 1 AS src, CAST(c_custkey * 7 % 1000 AS BIGINT) AS ts,
             c_name AS name,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS segment,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
      FROM customer
      UNION ALL
      SELECT c_custkey, 2, CAST(c_custkey * 13 % 1000 AS BIGINT),
             CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE upper(c_name) END,
             c_mktsegment,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 50 END
      FROM customer
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY CASE WHEN name IS NULL
               THEN 1 ELSE 0 END, ts DESC, src DESC) AS rn_name,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY CASE WHEN segment IS NULL
               THEN 1 ELSE 0 END, ts DESC, src DESC) AS rn_seg,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY CASE WHEN bal IS NULL
               THEN 1 ELSE 0 END, ts DESC, src DESC) AS rn_bal
      FROM versions
    )
    SELECT CAST(k AS BIGINT) AS c_custkey,
           MAX(CASE WHEN rn_name = 1 THEN name END) AS name,
           MAX(CASE WHEN rn_seg = 1 THEN segment END) AS segment,
           CAST(MAX(CASE WHEN rn_bal = 1 THEN bal END) AS BIGINT) AS bal_cents,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM ranked GROUP BY k
    """,
)
def q210_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (the MDM golden record): each entity's
    duplicate versions collapse FIELD BY FIELD — every column
    independently takes the newest NON-NULL value (nulls-last, then
    recency, then source id: a total order, so both engines elect the
    same winner per field even when the freshest version is partially
    null — the case single-row "latest wins" gets wrong). Implemented as
    one ``max_by``-style reduction per field over structs ordered by
    (non-null, ts, src) — one shuffle on the entity key, all fields in
    the same aggregate. Two conflicting versions per customer are carved
    in-plan with complementary null patterns so every survivorship path
    executes.

    This closes the entity-resolution pipeline: q18 fuzzy-matches, q175
    normalizes, q62 clusters, THIS merges."""
    c = load(spark, sf_dir, "customer")
    bal = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("src"),
        (F.col("c_custkey") * 7 % 1000).cast("long").alias("ts"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        bal.alias("bal"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("src"),
        (F.col("c_custkey") * 13 % 1000).cast("long").alias("ts"),
        F.when(F.col("c_custkey") % 2 == 0, None)
        .otherwise(F.upper("c_name"))
        .alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_custkey") % 5 == 0, None).otherwise(bal + 50).alias("bal"),
    )
    versions = v1.unionByName(v2)

    def survivor(col: str):
        pref = F.struct(
            F.col(col).isNotNull().cast("int").alias("nn"),
            F.col("ts").alias("ts"),
            F.col("src").alias("src"),
            F.col(col).alias("v"),
        )
        return F.max(pref)["v"]

    return versions.groupBy(F.col("k").cast("bigint").alias("c_custkey")).agg(
        survivor("name").alias("name"),
        survivor("segment").alias("segment"),
        survivor("bal").cast("bigint").alias("bal_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
    )


@query(
    "q271_mv_retraction_maintenance",
    oracle="""
    WITH tagged AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':rx'),
                            1, 8) AS BIGINT) % 20 = 0 THEN 1 ELSE 0 END AS retracted
      FROM events
    ),
    base AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM tagged WHERE d < DATE '2024-01-20' GROUP BY event_type
    ),
    delta AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN retracted = 0 THEN 1 ELSE -1 END) AS BIGINT) AS dn,
             CAST(SUM(CASE WHEN retracted = 0 THEN cents ELSE -cents END)
                  AS BIGINT) AS ds
      FROM tagged WHERE d >= DATE '2024-01-20' GROUP BY event_type
    ),
    direct AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN d < DATE '2024-01-20' OR retracted = 0
                      THEN 1 ELSE -1 END) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN d < DATE '2024-01-20' OR retracted = 0
                      THEN cents ELSE -cents END) AS BIGINT) AS s
      FROM tagged GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(b.n + COALESCE(dl.dn, 0) AS BIGINT) AS maintained_n,
           CAST(b.s + COALESCE(dl.ds, 0) AS BIGINT) AS maintained_sum_cents,
           d.n AS direct_n,
           d.s AS direct_sum_cents
    FROM base b
    LEFT JOIN delta dl ON dl.event_type = b.event_type
    JOIN direct d ON d.event_type = b.event_type
    """,
)
def q271_mv_retraction_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-AWARE materialized-view maintenance — the +1/−1 delta
    algebra streaming MV engines (Flink/Materialize) run: a grouped
    count/sum MV built on the base window is MAINTAINED by applying the
    later window's delta stream, where hash-chosen 'retracted' rows
    enter as NEGATIVE contributions — and the query emits BOTH the
    maintained state and the direct full recomputation so the oracle
    (and test) pin their equality. This is q134's insert-only
    incremental aggregation completed with deletes: count and sum are
    self-maintainable under retraction (no log replay, no rescan);
    min/max are NOT (a retracted max forces q195's log-compaction
    path) — which is precisely why production MVs declare their
    aggregate class. Two passes over the fact stream (base+delta vs
    direct), both combiner aggregates."""
    ev = load(spark, sf_dir, "events")
    retracted = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":rx"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 20
        == 0
    )
    tagged = ev.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(retracted, 1).otherwise(0).alias("retracted"),
    )
    cutoff = "2024-01-20"
    base = tagged.filter(F.col("d") < cutoff).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    delta = tagged.filter(F.col("d") >= cutoff).groupBy("event_type").agg(
        F.sum(F.when(F.col("retracted") == 0, 1).otherwise(-1))
        .cast("bigint")
        .alias("dn"),
        F.sum(
            F.when(F.col("retracted") == 0, F.col("cents")).otherwise(-F.col("cents"))
        )
        .cast("bigint")
        .alias("ds"),
    )
    direct = tagged.groupBy("event_type").agg(
        F.sum(
            F.when((F.col("d") < cutoff) | (F.col("retracted") == 0), 1).otherwise(-1)
        )
        .cast("bigint")
        .alias("direct_n"),
        F.sum(
            F.when(
                (F.col("d") < cutoff) | (F.col("retracted") == 0), F.col("cents")
            ).otherwise(-F.col("cents"))
        )
        .cast("bigint")
        .alias("direct_sum_cents"),
    )
    return (
        base.join(delta, "event_type", "left")
        .join(direct, "event_type")
        .select(
            "event_type",
            (F.col("n") + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("bigint")
            .alias("maintained_n"),
            (F.col("s") + F.coalesce(F.col("ds"), F.lit(0)))
            .cast("bigint")
            .alias("maintained_sum_cents"),
            F.col("direct_n").alias("direct_n"),
            F.col("direct_sum_cents").alias("direct_sum_cents"),
        )
    )


GAP_AUDIT_BLOCK = 256  # keys per block; 1e6 at 100 TB keeps the boundary
                       # pass to keyspace/B rows — always bounded by choice of B
GAP_AUDIT_DROP_MOD = 23  # simulated feed loss: keys hashing to 0 mod 23


@query(
    "q301_key_gap_audit",
    oracle=f"""
    WITH present AS (
      SELECT o_orderkey AS k FROM orders
      WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':feed'),
                 1, 8) AS BIGINT) % {GAP_AUDIT_DROP_MOD} <> 0
    ),
    nxt AS (
      SELECT k, LEAD(k) OVER (ORDER BY k) AS next_k FROM present
    )
    SELECT CAST(k + 1 AS BIGINT) AS gap_start,
           CAST(next_k - 1 AS BIGINT) AS gap_end,
           CAST(next_k - k - 1 AS BIGINT) AS missing_n
    FROM nxt WHERE next_k > k + 1
    """,
)
def q301_key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-GAP AUDIT — find every missing range in an append log's
    monotone key sequence (dropped Kafka offsets, lost CDC LSNs,
    skipped invoice numbers). The input simulates feed loss by hashing
    out ~1/23 of the dense orderkey space; the audit must
    recover exactly those holes (property-tested against the punch-out
    set — the audit and the corruption are independent code paths).

    The naive LEAD over all keys is a single-reducer global sort, so
    this runs the RANGE-PARTITIONED TWO-PASS shape (q74's cumsum
    machinery applied to LEAD): pass 1 finds intra-block gaps with a
    per-block window (block = key DIV 256); pass 2 finds
    cross-block gaps with a window over per-block (min, max) aggregates
    — input bounded at keyspace/256 rows, and the block size is
    the knob that keeps it bounded at any scale (1e6 at 100 TB). Runs
    of entirely-empty blocks collapse into one boundary gap because
    absent blocks simply don't appear. The oracle is the naive global
    LEAD — fine at sf, wrong at scale; the PLANS differ, the answer
    must not."""
    o = load(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":feed"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    present = o.select(F.col("o_orderkey").alias("k")).filter(
        h % GAP_AUDIT_DROP_MOD != 0
    )
    blocked = present.withColumn(
        "block", (F.col("k") / GAP_AUDIT_BLOCK).cast("long")
    )
    wi = Window.partitionBy("block").orderBy("k")
    intra = (
        blocked.withColumn("next_k", F.lead("k").over(wi))
        .filter(F.col("next_k") > F.col("k") + 1)
        .select(
            (F.col("k") + 1).cast("bigint").alias("gap_start"),
            (F.col("next_k") - 1).cast("bigint").alias("gap_end"),
        )
    )
    per_block = blocked.groupBy("block").agg(
        F.min("k").alias("bmin"), F.max("k").alias("bmax")
    )
    wb = Window.orderBy("block")
    cross = (
        per_block.withColumn("prev_max", F.lag("bmax").over(wb))
        .filter(F.col("bmin") > F.col("prev_max") + 1)
        .select(
            (F.col("prev_max") + 1).cast("bigint").alias("gap_start"),
            (F.col("bmin") - 1).cast("bigint").alias("gap_end"),
        )
    )
    return intra.unionByName(cross).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).cast("bigint").alias("missing_n"),
    )


BITEMP_AUDIT_TS = "1996-01-01"  # the transaction-time audit point


@query(
    "q312_bitemporal_audit",
    oracle=f"""
    WITH facts AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS valid_d,
             CAST(o_orderdate AS DATE)
               + CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                     || ':late'), 1, 8) AS BIGINT) % 7 AS INTEGER) AS recorded_d,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1995-10-01'
        AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
    )
    SELECT strftime(date_trunc('month', valid_d), '%Y-%m') AS valid_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows_final,
           CAST(SUM(CASE WHEN recorded_d < DATE '{BITEMP_AUDIT_TS}'
                         THEN cents ELSE 0 END) AS BIGINT) AS rev_known_at_audit,
           CAST(SUM(cents) AS BIGINT) AS rev_final,
           CAST(SUM(CASE WHEN recorded_d >= DATE '{BITEMP_AUDIT_TS}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_rows,
           CAST(SUM(CASE WHEN recorded_d >= DATE '{BITEMP_AUDIT_TS}'
                         THEN cents ELSE 0 END) AS BIGINT) AS restatement_cents
    FROM facts GROUP BY 1
    """,
)
def q312_bitemporal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL RESTATEMENT — the two-clock accounting question "what
    did we KNOW on the audit date vs what is TRUE now": every fact has
    a valid time (when the order happened) and a transaction time
    (when the warehouse learned of it — here valid + a deterministic
    0-6-day booking lag). Q4-1995 monthly revenue is reported twice
    from one conditional aggregate: the as-known-at-1996-01-01
    figure (only rows recorded before the audit instant) and the
    final figure; their difference is the restatement — the number a
    close process signs off on. This is the append-only fast path of
    bitemporality (facts never mutate, so no SCD2 spine is needed —
    q101 handles mutating dimensions); the plan is one scan with a
    pushed valid-time range filter and a months-sized rollup, so a
    100 TB ledger answers "as-of any T" by changing one literal — no
    snapshot copies. Invariant property-tested: known + restatement
    == final, per month, exactly."""
    o = load(spark, sf_dir, "orders")
    lag_days = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":late"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 7
    )
    facts = o.filter(
        (F.to_date("o_orderdate") >= F.lit("1995-10-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-01-01").cast("date"))
    ).select(
        F.to_date("o_orderdate").alias("valid_d"),
        F.date_add(F.to_date("o_orderdate"), lag_days.cast("int")).alias(
            "recorded_d"
        ),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    audit = F.lit(BITEMP_AUDIT_TS).cast("date")
    late = F.col("recorded_d") >= audit
    return facts.groupBy(
        F.date_format("valid_d", "yyyy-MM").alias("valid_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_final"),
        F.sum(F.when(~late, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("rev_known_at_audit"),
        F.sum("cents").cast("bigint").alias("rev_final"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late_rows"),
        F.sum(F.when(late, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("restatement_cents"),
    )


BACKFILL_UNIT_KEYS = 500  # max keys per backfill work unit


@query(
    "q315_backfill_planner",
    oracle=f"""
    WITH present AS (
      SELECT o_orderkey AS k FROM orders
      WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':feed'),
                 1, 8) AS BIGINT) % {GAP_AUDIT_DROP_MOD} <> 0
    ),
    nxt AS (
      SELECT k, LEAD(k) OVER (ORDER BY k) AS next_k FROM present
    ),
    gaps AS (
      SELECT CAST(k + 1 AS BIGINT) AS gap_start,
             CAST(next_k - 1 AS BIGINT) AS gap_end,
             CAST(next_k - k - 1 AS BIGINT) AS missing_n
      FROM nxt WHERE next_k > k + 1
    )
    SELECT gap_start AS gap_id,
           CAST(c.j AS BIGINT) AS chunk_idx,
           CAST(gap_start + c.j * {BACKFILL_UNIT_KEYS} AS BIGINT) AS unit_start,
           CAST(LEAST(gap_end,
                gap_start + (c.j + 1) * {BACKFILL_UNIT_KEYS} - 1) AS BIGINT)
             AS unit_end,
           CAST(LEAST(gap_end,
                gap_start + (c.j + 1) * {BACKFILL_UNIT_KEYS} - 1)
                - (gap_start + c.j * {BACKFILL_UNIT_KEYS}) + 1 AS BIGINT)
             AS unit_keys
    FROM gaps,
         unnest(generate_series(0,
           CAST((missing_n - 1) // {BACKFILL_UNIT_KEYS} AS BIGINT))) AS c(j)
    """,
)
def q315_backfill_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKFILL PLANNER — turns q301's missing-range audit into an
    executable work manifest: every gap is chunked into units of at
    most 500 keys (the replay-batch size an ingest API
    tolerates), keyed by (gap_id, chunk_idx) so a scheduler can fan
    units out idempotently and mark them done independently — re-running
    the planner after a partial backfill shrinks the manifest instead
    of restarting it. Audit-to-plan is one bounded explode
    (generate_series over ceil(missing/500) chunk
    indices — output-sized, never keyspace-sized); the gap detection
    underneath reuses q301's range-partitioned two-pass, so the whole
    plan inherits its 100 TB shape. The unit-coverage identity (units
    tile each gap exactly, no overlap, no spill past gap_end) is
    property-tested against the audit output."""
    gaps = q301_key_gap_audit(spark, sf_dir)
    U = BACKFILL_UNIT_KEYS
    units = gaps.select(
        F.col("gap_start").alias("gap_id"),
        "gap_start",
        "gap_end",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.expr(f"(missing_n - 1) DIV {U}"))
        ).alias("chunk_idx"),
    )
    unit_start = F.col("gap_start") + F.col("chunk_idx") * U
    unit_end = F.least(F.col("gap_end"), F.col("gap_start") + (F.col("chunk_idx") + 1) * U - 1)
    return units.select(
        "gap_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        unit_start.cast("bigint").alias("unit_start"),
        unit_end.cast("bigint").alias("unit_end"),
        (unit_end - unit_start + 1).cast("bigint").alias("unit_keys"),
    )


REPROCESS_DELTA_MAX_PPM = 100_000  # >10% stale rows => full partition rebuild


@query(
    "q337_reprocess_planner",
    oracle=f"""
    WITH facts AS (
      SELECT CAST(o_orderdate AS DATE) AS valid_d,
             CAST(o_orderdate AS DATE)
               + CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                     || ':late'), 1, 8) AS BIGINT) % 7 AS INTEGER) AS recorded_d
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1995-10-01'
        AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
    ),
    per AS (
      SELECT valid_d,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN recorded_d = DATE '{BITEMP_AUDIT_TS}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_arrived
      FROM facts GROUP BY valid_d
    )
    SELECT strftime(valid_d, '%Y-%m-%d') AS partition_day,
           n_total, n_arrived,
           CAST(n_arrived * 1000000 // n_total AS BIGINT) AS arrived_ppm,
           CASE WHEN n_arrived * 1000000 // n_total > {REPROCESS_DELTA_MAX_PPM}
                THEN 'rebuild' ELSE 'delta' END AS action
    FROM per WHERE n_arrived > 0
    """,
)
def q337_reprocess_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL-REPROCESS PLANNER — the nightly-close decision q312's
    restatement report implies: today's batch of late-arriving facts
    (booking lag = the q312 hash model; in production, yesterday's CDC
    stream) lands across MANY valid-date partitions, and each touched
    partition either takes a cheap DELTA apply (q134/q271's machinery)
    or a full REBUILD when the stale fraction clears
    100000 ppm — the crossover where re-aggregating
    beats merging. Output is the work list an orchestrator fans out:
    only touched partitions appear (the 100 TB property — cost scales
    with the DELTA, not the table), each with exact ppm staleness in
    integer arithmetic so the rebuild/delta decision replays
    identically anywhere. One conditional aggregate over the
    valid-time range scan; composes with q315's unit chunking for
    partitions too big to rebuild in one task."""
    o = load(spark, sf_dir, "orders")
    lag_days = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":late"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 7
    )
    facts = o.filter(
        (F.to_date("o_orderdate") >= F.lit("1995-10-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-01-01").cast("date"))
    ).select(
        F.to_date("o_orderdate").alias("valid_d"),
        F.date_add(F.to_date("o_orderdate"), lag_days.cast("int")).alias(
            "recorded_d"
        ),
    )
    audit = F.lit(BITEMP_AUDIT_TS).cast("date")
    per = facts.groupBy("valid_d").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("recorded_d") == audit, 1).otherwise(0))
        .cast("long")
        .alias("n_arrived"),
    )
    return per.filter(F.col("n_arrived") > 0).select(
        F.date_format("valid_d", "yyyy-MM-dd").alias("partition_day"),
        F.col("n_total").cast("bigint"),
        F.col("n_arrived").cast("bigint"),
        F.expr("n_arrived * 1000000 DIV n_total").cast("bigint").alias("arrived_ppm"),
        F.when(
            F.expr("n_arrived * 1000000 DIV n_total") > REPROCESS_DELTA_MAX_PPM,
            "rebuild",
        )
        .otherwise("delta")
        .alias("action"),
    )


@query(
    "q356_incremental_join",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':do'),
                  1, 8) AS BIGINT) % 5 = 0 AS is_delta
      FROM orders
    ),
    li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                  CAST(l_linenumber AS VARCHAR) || ':dl'), 1, 8) AS BIGINT)
               % 7 = 0 AS is_delta
      FROM lineitem
    ),
    terms AS (
      SELECT CASE WHEN NOT o.is_delta AND NOT li.is_delta THEN 'base_base'
                  WHEN NOT o.is_delta AND li.is_delta THEN 'base_delta'
                  WHEN o.is_delta AND NOT li.is_delta THEN 'delta_base'
                  ELSE 'delta_delta' END AS term,
             li.cents
      FROM o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM terms GROUP BY term
    UNION ALL
    SELECT 'full_join', CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM terms
    """,
)
def q356_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL JOIN MAINTENANCE — the differential-dataflow identity
    that lets a materialized join absorb a CDC batch without
    recomputing: (A+ΔA)⋈(B+ΔB) = A⋈B + A⋈ΔB + ΔA⋈B + ΔA⋈ΔB, so the
    nightly work is the three Δ-terms — each join keyed with one side
    tiny — while the A⋈B term is the standing materialization. Deltas
    here are INDEPENDENT hash slices of each table (correlated deltas
    would zero the cross terms and hide bugs); the output is all four
    terms plus the full join, and the conservation identity
    Σterms ≡ full — in both row count and revenue — is what the hash
    check and the property test certify. This is the join sibling of
    q271's aggregate delta algebra; together they cover the two MV
    classes a lakehouse maintains incrementally. At 100 TB the
    Δ-joins broadcast their delta side and never touch the base⋈base
    cost — the entire point."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":do"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 5
            == 0
        ).alias("o_delta"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                            F.lit(":dl"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 7
            == 0
        ).alias("li_delta"),
    )
    joined = o.join(li, "o_orderkey").select(
        F.when(~F.col("o_delta") & ~F.col("li_delta"), "base_base")
        .when(~F.col("o_delta") & F.col("li_delta"), "base_delta")
        .when(F.col("o_delta") & ~F.col("li_delta"), "delta_base")
        .otherwise("delta_delta")
        .alias("term"),
        "cents",
    )
    terms = joined.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    full = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    ).withColumn("term", F.lit("full_join"))
    return terms.unionByName(full.select("term", "n_rows", "revenue_cents"))


@query(
    "q400_health_scorecard",
    oracle=f"""
    WITH dup AS (
      SELECT CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) * 1000000
                  // SUM(cnt) AS BIGINT) AS v
      FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY md5(text))
    ),
    recon AS (
      SELECT CAST(SUM(CASE WHEN li.line_cents IS NOT NULL
                        AND abs(CAST(floor(o.o_totalprice * 100 + 0.5)
                                AS BIGINT) - li.line_cents) * 20
                            <= li.line_cents
                       THEN 1 ELSE 0 END) * 1000000
                  // COUNT(*) AS BIGINT) AS v
      FROM orders o LEFT JOIN (
        SELECT l_orderkey,
               CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS line_cents
        FROM lineitem GROUP BY l_orderkey
      ) li ON li.l_orderkey = o.o_orderkey
    ),
    orphan AS (
      SELECT CAST(COUNT(*) * 1000000
                  // (SELECT COUNT(*) FROM orders) AS BIGINT) AS v
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_orderkey = o.o_orderkey)
    ),
    err AS (
      SELECT CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS v
      FROM events
    )
    SELECT 'exact_dup_ppm' AS check_name, dup.v AS value_ppm,
           dup.v <= 50000 AS passed FROM dup
    UNION ALL
    SELECT 'header_within5_ppm', recon.v, recon.v >= 100000 FROM recon
    UNION ALL
    SELECT 'orphan_order_ppm', orphan.v, orphan.v <= 50000 FROM orphan
    UNION ALL
    SELECT 'error_event_ppm', err.v, err.v <= 300000 FROM err
    """,
)
def q400_health_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-HEALTH SCORECARD — the one-page verdict a platform team
    pins to the wall, composed from four REGISTERED audit lineages:
    exact-duplicate mass (q41's hash clusters), header-vs-detail
    agreement within 5% (q388's band), orphaned orders (q291's FK
    sweep), and the error-event share (q320's numerator) — each
    compressed to one ppm number against a literal gate. The point
    is the composition pattern: checks are the SAME expressions the
    detailed audits run (not re-implementations drifting out of
    sync), and the scorecard is a UNION of one-row aggregates, so
    adding a check is appending a lineage — at 100 TB the scans
    share the nightly audit pass. On this corpus the generator's
    truth shows through: near-zero dups and orphans pass, the
    reconciliation gate FAILS (q388's finding, promoted to a red
    row) — a scorecard that can't fail is decoration."""
    d = load(spark, sf_dir, "documents")
    dup = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.expr(
                "SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) * 1000000"
                " DIV SUM(cnt)"
            )
            .cast("long")
            .alias("v")
        )
        .select(
            F.lit("exact_dup_ppm").alias("check_name"),
            F.col("v").cast("bigint").alias("value_ppm"),
            (F.col("v") <= 50_000).alias("passed"),
        )
    )
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sums = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("line_cents")
    )
    recon = (
        o.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("header_cents"),
        )
        .join(sums, "o_orderkey", "left")
        .agg(
            F.expr(
                "SUM(CASE WHEN line_cents IS NOT NULL AND"
                " abs(header_cents - line_cents) * 20 <= line_cents"
                " THEN 1 ELSE 0 END) * 1000000 DIV COUNT(*)"
            )
            .cast("long")
            .alias("v")
        )
        .select(
            F.lit("header_within5_ppm").alias("check_name"),
            F.col("v").cast("bigint").alias("value_ppm"),
            (F.col("v") >= 100_000).alias("passed"),
        )
    )
    n_orders = o.agg(F.count(F.lit(1)).cast("long").alias("n_ord"))
    orphan = (
        o.join(li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphan"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.lit("orphan_order_ppm").alias("check_name"),
            F.expr("n_orphan * 1000000 DIV n_ord").cast("bigint").alias("value_ppm"),
            (F.expr("n_orphan * 1000000 DIV n_ord") <= 50_000).alias("passed"),
        )
    )
    ev = load(spark, sf_dir, "events")
    err = ev.agg(
        F.expr(
            "SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " * 1000000 DIV COUNT(*)"
        )
        .cast("long")
        .alias("v")
    ).select(
        F.lit("error_event_ppm").alias("check_name"),
        F.col("v").cast("bigint").alias("value_ppm"),
        (F.col("v") <= 300_000).alias("passed"),
    )
    return dup.unionByName(recon).unionByName(orphan).unionByName(err)


@query(
    "q445_hash_chain_ledger",
    oracle="""
    WITH tx AS (
      SELECT o_custkey AS acct,
             o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 9 = 0
    ),
    chain AS (
      SELECT acct,
             CAST(COUNT(*) AS BIGINT) AS n_tx,
             list_reduce(
               list_prepend('GENESIS',
                 list(CAST(o_orderkey AS VARCHAR) || ':'
                      || CAST(cents AS VARCHAR)
                      ORDER BY o_orderkey)),
               (acc, x) -> md5(acc || '|' || x)
             ) AS head_digest
      FROM tx GROUP BY acct
    )
    SELECT acct, n_tx, head_digest FROM chain
    """,
)
def q445_hash_chain_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHAIN LEDGER INTEGRITY — the tamper-evidence primitive audit
    logs and billing ledgers use: each account's transactions (ordered
    by orderkey) fold into a running digest h_t = md5(h_{t-1} | tx_t)
    from a GENESIS seed, so the final head digest commits to the ENTIRE
    ordered history — change any historical amount, insert, drop, or
    reorder one transaction and the head changes (the property test
    proves all four tamper classes detectably break the chain). This is
    q286's content-address made ORDER-SENSITIVE: the commutative Σh
    fingerprint detects set changes but not reorderings; the chain
    detects everything at the cost of sequential folding — which is why
    it runs per ACCOUNT (the fold is the q419 ordered-list fold with
    md5 as the step function; chains parallelize across accounts, and
    cross-account tampering is caught because each account's head is
    its own commitment). Strings and md5 are bit-identical across
    engines, so the oracle hash-checks every head digest. At 100 TB:
    one shuffle on account; per-account lists are bounded by account
    history (spill-safe; a per-epoch chain-of-chains caps them when
    histories grow unbounded)."""
    tx = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 9 == 0)
        .select(
            F.col("o_custkey").alias("acct"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    arr = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("o_orderkey").alias("k"),
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("cents").cast("string"),
                    ).alias("s"),
                )
            )
        ),
        lambda st: st["s"],
    )
    return tx.groupBy("acct").agg(
        F.count(F.lit(1)).cast("long").alias("n_tx"),
        F.aggregate(
            arr,
            F.lit("GENESIS"),
            lambda acc, x: F.md5(F.concat(acc, F.lit("|"), x)),
        ).alias("head_digest"),
    )


_JVM_FP = "CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT) % 2147483647"


@query(
    "q476_join_view_maintenance",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderdate < DATE '1997-01-01'
    ),
    da AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
    ),
    b AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 97 <> 0
    ),
    db AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 97 = 0
    ),
    incr AS (
      SELECT a.o_orderkey, a.o_custkey, a.o_totalprice, b.c_mktsegment
      FROM a JOIN b ON b.c_custkey = a.o_custkey
      UNION ALL
      SELECT da.o_orderkey, da.o_custkey, da.o_totalprice, b.c_mktsegment
      FROM da JOIN b ON b.c_custkey = da.o_custkey
      UNION ALL
      SELECT a.o_orderkey, a.o_custkey, a.o_totalprice, db.c_mktsegment
      FROM a JOIN db ON db.c_custkey = a.o_custkey
      UNION ALL
      SELECT da.o_orderkey, da.o_custkey, da.o_totalprice, db.c_mktsegment
      FROM da JOIN db ON db.c_custkey = da.o_custkey
    ),
    full_v AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_mktsegment
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    fp AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM incr) AS n_incremental,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM full_v) AS n_recomputed,
        (SELECT CAST(SUM({_JVM_FP.format(expr="CAST(o_orderkey AS VARCHAR) || ':' || c_mktsegment || ':' || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)")}) AS BIGINT)
         FROM incr) AS fp_incremental,
        (SELECT CAST(SUM({_JVM_FP.format(expr="CAST(o_orderkey AS VARCHAR) || ':' || c_mktsegment || ':' || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)")}) AS BIGINT)
         FROM full_v) AS fp_recomputed,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM da) AS n_delta_a,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM db) AS n_delta_b
    )
    SELECT n_delta_a, n_delta_b, n_incremental, n_recomputed,
           fp_incremental, fp_recomputed,
           n_incremental = n_recomputed
             AND fp_incremental = fp_recomputed AS maintained_ok
    FROM fp
    """,
)
def q476_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL JOIN-VIEW MAINTENANCE, with the delta algebra PROVED
    on the data: for an insert-only join view V = A⋈B, the classical
    maintenance identity ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (Blakeley et al.
    1986 — the join-view counterpart of q271's aggregate retraction
    maintenance). The fixture splits orders temporally (ΔA = 1997+)
    and customers by a deterministic key residue (ΔB = custkey%97=0),
    computes the view BOTH ways — the four-term incremental union vs
    the full recompute — and emits row counts plus order-independent
    md5-sum fingerprints of the exact row contents (the q286/q173
    content-hash idiom, prices pinned to integer cents inside the
    hash), with `maintained_ok` asserting the identity held. Every
    term joins on the same custkey the full join uses, so at 100 TB
    the incremental plan touches |Δ|-sized inputs in three of four
    terms — exactly why view maintenance beats recompute; the audit
    compares FINGERPRINTS, never materializing either side for a
    sort. Tests replay the four-term union in Python set algebra and
    also break the identity on purpose (drop the ΔA⋈ΔB cross term)
    to show the fingerprint CATCHES it — an audit that can't fail is
    not an audit (q445's tamper discipline)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    cut = F.lit("1997-01-01").cast("date")
    a = orders.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    da = orders.where(F.col("o_orderdate") >= cut).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    b = cust.where(F.col("c_custkey") % 97 != 0).select(
        "c_custkey", "c_mktsegment"
    )
    db = cust.where(F.col("c_custkey") % 97 == 0).select(
        "c_custkey", "c_mktsegment"
    )

    def j(x, y):
        return x.join(y, x.o_custkey == y.c_custkey).select(
            "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
        )

    incr = j(a, b).unionAll(j(da, b)).unionAll(j(a, db)).unionAll(j(da, db))
    full_v = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )
    row_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("c_mktsegment"),
                    F.floor(F.col("o_totalprice") * 100 + 0.5)
                    .cast("long")
                    .cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % 2147483647

    def fp(df, n_name, f_name):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.sum(row_h).cast("long").alias(f_name),
        )

    res = (
        fp(incr, "n_incremental", "fp_incremental")
        .crossJoin(F.broadcast(fp(full_v, "n_recomputed", "fp_recomputed")))
        .crossJoin(
            F.broadcast(da.agg(F.count(F.lit(1)).cast("long").alias("n_delta_a")))
        )
        .crossJoin(
            F.broadcast(db.agg(F.count(F.lit(1)).cast("long").alias("n_delta_b")))
        )
    )
    return res.select(
        "n_delta_a",
        "n_delta_b",
        "n_incremental",
        "n_recomputed",
        "fp_incremental",
        "fp_recomputed",
        (
            (F.col("n_incremental") == F.col("n_recomputed"))
            & (F.col("fp_incremental") == F.col("fp_recomputed"))
        ).alias("maintained_ok"),
    )



_HAM_PIPELINE = """
      SELECT nib, e, syn,
             ((((fw) // 4) % 2) + 2 * (((fw) // 16) % 2) + 4 * (((fw) // 32) % 2) + 8 * (((fw) // 64) % 2)) AS decoded
      FROM (
        SELECT nib, e, syn,
               CASE WHEN syn = 0 THEN rw
                    ELSE rw + (1 - 2 * (((rw) // (CASE syn WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 WHEN 7 THEN 64 END)) % 2)) * (CASE syn WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 WHEN 7 THEN 64 END) END AS fw
        FROM (
          SELECT nib, e, rw, ((((((rw) // 1) % 2) + (((rw) // 4) % 2) + (((rw) // 16) % 2) + (((rw) // 64) % 2)) % 2) + 2 * (((((rw) // 2) % 2) + (((rw) // 4) % 2) + (((rw) // 32) % 2) + (((rw) // 64) % 2)) % 2) + 4 * (((((rw) // 8) % 2) + (((rw) // 16) % 2) + (((rw) // 32) % 2) + (((rw) // 64) % 2)) % 2)) AS syn
          FROM (
            SELECT nib, e,
                   CASE WHEN e = 0 THEN cw
                        ELSE cw + (1 - 2 * (((cw) // (CASE e WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 WHEN 7 THEN 64 END)) % 2)) * (CASE e WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 8 WHEN 5 THEN 16 WHEN 6 THEN 32 WHEN 7 THEN 64 END) END AS rw
            FROM (SELECT nib, e, ((((((nib) // 1) % 2) + (((nib) // 2) % 2) + (((nib) // 8) % 2)) % 2) + 2 * (((((nib) // 1) % 2) + (((nib) // 4) % 2) + (((nib) // 8) % 2)) % 2) + 4 * (((nib) // 1) % 2) + 8 * (((((nib) // 2) % 2) + (((nib) // 4) % 2) + (((nib) // 8) % 2)) % 2) + 16 * (((nib) // 2) % 2) + 32 * (((nib) // 4) % 2) + 64 * (((nib) // 8) % 2)) AS cw FROM base)
          )
        )
      )
"""


@query(
    "q481_hamming_code_audit",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey % 16 AS nib,
             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':ham'),
                  1, 8) AS BIGINT) % 8 AS e
      FROM customer
    ),
    decoded AS ({_HAM_PIPELINE})
    SELECT syn AS syndrome,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN decoded = nib THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recovered,
           CAST(SUM(CASE WHEN syn = e THEN 1 ELSE 0 END) AS BIGINT)
             AS n_syndrome_correct,
           COUNT(*) = SUM(CASE WHEN decoded = nib THEN 1 ELSE 0 END)
             AND COUNT(*) = SUM(CASE WHEN syn = e THEN 1 ELSE 0 END)
             AS all_recovered
    FROM decoded GROUP BY syn
    """,
)
def q481_hamming_code_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMMING(7,4) SINGLE-ERROR-CORRECTION AUDIT — the integrity family
    (q445 hash chain, q448 Luhn, q173 Merkle) gains the code that
    doesn't just DETECT corruption but names the corrupted bit and
    REPAIRS it: each customer key's low nibble encodes into the
    7-bit codeword (parity bits at positions 1,2,4 covering the
    classic index masks), a deterministically md5-chosen single-bit
    error (position 0 = clean, 1-7 = flip that bit) corrupts it, and
    the decoder's syndrome s1+2·s2+4·s4 must equal the planted
    position EXACTLY — that's the theorem (syndrome = error address,
    the defining property of Hamming codes), asserted per row and
    reported per syndrome bucket. Every XOR is sum-mod-2, every bit
    pick is div/mod — the identical integer program in both engines
    (the q479 discipline: algebra generated once, substituted into
    both dialects). The test corrupts TWO bits and shows the decoder
    confidently mis-corrects — single-error codes fail double errors
    by design, and an audit that can't fail is not an audit. One scan,
    one 8-row aggregate; at 100 TB this is the cheapest
    bits-on-the-wire check a bronze layer can run."""
    c = load(spark, sf_dir, "customer")
    base = c.select(
        (F.col("c_custkey") % 16).alias("nib"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":ham"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 8
        ).alias("e"),
    )
    base.createOrReplaceTempView("base")
    decoded = spark.sql(_HAM_PIPELINE.replace("//", " div "))
    return (
        decoded.groupBy(F.col("syn").alias("syndrome"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("decoded") == F.col("nib"), 1).otherwise(0))
            .cast("long")
            .alias("n_recovered"),
            F.sum(F.when(F.col("syn") == F.col("e"), 1).otherwise(0))
            .cast("long")
            .alias("n_syndrome_correct"),
        )
        .select(
            "syndrome",
            "n",
            "n_recovered",
            "n_syndrome_correct",
            (
                (F.col("n") == F.col("n_recovered"))
                & (F.col("n") == F.col("n_syndrome_correct"))
            ).alias("all_recovered"),
        )
    )
