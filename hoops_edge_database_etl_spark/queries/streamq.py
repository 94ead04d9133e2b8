"""Structured Streaming on the driver-checkable surface (SURVEY §2.8 I-family
bonus): a bounded (``availableNow``) streaming run whose final state is
deterministic, so the SAME DuckDB batch SQL oracle that checks the batch
queries checks the stream — streaming and batch semantics provably agree.

The unbounded-production shapes (watermarks, append-mode windows,
``dropDuplicatesWithinWatermark``, session windows, ``foreachBatch``
upserts, ``applyInPandasWithState``) live in streaming/pipeline.py with
their own tests; this module exposes the one form whose result is exactly
reproducible as SQL: complete-mode aggregation over a fully-consumed
bounded source.
"""

from __future__ import annotations

import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hoops_edge_database_etl_spark.queries import query
from hoops_edge_database_etl_spark.tables import load_stream

DEC = "decimal(18,2)"


def _drain(df: DataFrame, sink: str, mode: str = "complete") -> DataFrame:
    """Run ``df`` as a bounded (availableNow) stream into the memory sink
    ``sink`` and return the sink's final state as a batch DataFrame."""
    ck = tempfile.mkdtemp(prefix=f"{sink}_ck_")
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # a fresh run must never resume old offsets, and repeated driver
        # invocations must not litter /tmp — the checkpoint is per-run
        shutil.rmtree(ck, ignore_errors=True)
    return df.sparkSession.table(sink)


@query(
    "q71_streaming_rollup",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q71_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window rollup executed AS A STREAM: the events
    table is consumed through ``readStream`` (availableNow — the bounded
    replay trigger), aggregated per (1-hour window, event_type) in
    complete mode, and the final state is compared against plain batch
    SQL. Proves the streaming operator graph computes the same answer as
    the batch plan on identical input — the invariant that lets one
    pipeline definition serve both replay and live tailing.

    Scale notes: in production this exact graph runs unbounded with
    ``withWatermark`` + append mode into a partitioned parquet sink
    (streaming/pipeline.py:windowed_counts); complete-mode + memory sink
    here is only the harness that surfaces the final state as a
    DataFrame, and the aggregation state itself is (windows × types) —
    driver-safe. 1-hour windows align to epoch hours, so window.start ==
    date_trunc('hour', ts) exactly."""
    src = load_stream(spark, sf_dir, "events")
    agg = src.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )
    return _drain(agg, "q71_streaming_rollup_sink").select(
        F.col("w.start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "q95_streaming_dedup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q95_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL STREAMING DEDUP parity gate: the stream drops duplicate
    (user_id, event_type) pairs as they arrive — the exactly-once
    first-occurrence state store, a different stateful operator class
    than q71's windowed aggregation — then counts survivors per type in
    complete mode; the final state must hash-match batch COUNT(DISTINCT).
    Which physical row survives dedup is racy under parallel replay, but
    the SET of surviving keys is deterministic, so only key-derived
    aggregates are emitted — the invariant that makes streaming dedup
    checkable at all. Production shape: ``dropDuplicatesWithinWatermark``
    bounds the state by event-time (streaming/pipeline.py); the unbounded
    form here is safe because the source is bounded (availableNow)."""
    src = load_stream(spark, sf_dir, "events")
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return _drain(agg, "q95_streaming_dedup_sink").select("event_type", "n_users")


@query(
    "q137_stream_stream_join",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, o.o_orderpriority,
           CAST(l.l_quantity AS DOUBLE) AS quantity,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS net_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def q137_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner equi-join executed end-to-end as two
    readStream sources (orders ⋈ lineitem on orderkey, urgent orders
    only) — the both-sides-buffering operator that batch joins never
    exercise: each side's rows persist in the join state store until a
    match arrives from the other stream, and the final appended output
    over the bounded (availableNow) replay equals the batch join
    bit-for-bit (the shared oracle). Net price runs in DECIMAL inside
    the streaming plan — float parity discipline is identical to batch.

    Scale notes: unbounded production runs add ``withWatermark`` on
    both sides + an event-time range condition so the state store
    EVICTS matched-and-expired rows (streaming/pipeline.py documents
    the pattern); a bounded replay deliberately omits the watermark —
    with availableNow splitting input into multiple micro-batches, a
    watermark could drop cross-batch matches and the result would stop
    being deterministic. Filter pushdown still reaches the streaming
    source scan (urgent-only rows enter the state store)."""
    orders = load_stream(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lines = load_stream(spark, sf_dir, "lineitem")
    joined = orders.join(
        lines, orders.o_orderkey == lines.l_orderkey, "inner"
    ).select(
        "o_orderkey",
        "l_linenumber",
        "o_orderpriority",
        F.col("l_quantity").cast("double").alias("quantity"),
        (
            F.col("l_extendedprice").cast(DEC)
            * (F.lit(1) - F.col("l_discount").cast(DEC))
        )
        .cast("double")
        .alias("net_price"),
    )
    return _drain(joined, "q137_stream_stream_join_sink", "append")


SESSION_GAP = "30 minutes"


@query(
    "q156_streaming_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q156_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming's native SESSION WINDOW (dynamic-gap state
    merging — the streaming operator whose batch emulation is q37's
    lag+cumsum) run as a stream over the bounded replay: sessions per
    user close after {gap} of silence; the state store MERGES adjacent
    micro-batch sessions that turn out to overlap, which is the part a
    naive per-batch groupBy gets wrong and availableNow's multi-batch
    replay actually exercises. Final complete-mode state is compared
    against the batch gaps-and-islands SQL — streaming session
    semantics ≡ batch sessionization, the q71/q95/q137 invariant
    extended to the last streaming window type. (Ties: events share no
    equal (user, ts) pairs at the checked SFs, so the lag-window order
    is total.)""".format(gap=SESSION_GAP)
    src = load_stream(spark, sf_dir, "events")
    agg = (
        src.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    return _drain(agg, "q156_session_window_sink").select(
        "user_id",
        F.col("w.start").cast("string").alias("session_start"),
        F.col("w.end").cast("string").alias("session_end"),
        "n_events",
    )


@query(
    "q200_streaming_cdc_compaction",
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
           CAST(SUM(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT) AS live_cents
    FROM latest
    """,
)
def q200_streaming_cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q195's change-feed compaction executed AS A STREAM: the op log
    replays through ``readStream`` (availableNow) and a stateful
    latest-wins aggregation — ``max(struct(seq, op, cents))`` per key, an
    arg-max the state store merges associatively regardless of arrival
    order — maintains exactly one surviving op per key; the final audit
    must hash-match the batch window formulation. This is the THIRD
    stateful-operator class under the streaming≡batch gate (q71 windowed
    agg, q95 dedup state, THIS arg-max upsert state) — and it is
    precisely how a live Debezium feed folds into a serving table
    (foreachBatch MERGE being the sink-side variant, q180).

    State per key is one (seq, op, cents) struct — bounded by keyspace,
    not stream length; production adds a watermark on a seq-derived
    event time to expire idle keys."""
    src = load_stream(spark, sf_dir, "orders")
    log = src.select(
        (F.col("o_orderkey") % 5000).alias("k"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 11 == 0, "D")
        .when(F.col("o_orderkey") % 2 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    latest = log.groupBy("k").agg(
        F.max(F.struct("seq", "op", "cents")).alias("last")
    )
    final = _drain(latest, "q200_streaming_cdc_sink").select(
        F.col("last.op").alias("op"), F.col("last.cents").alias("cents")
    )
    return final.agg(
        F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).cast("bigint").alias("n_live"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).cast("bigint")
        .alias("n_tombstones"),
        F.sum(F.when(F.col("op") != "D", F.col("cents")).otherwise(0)).cast("bigint")
        .alias("live_cents"),
    )


@query(
    "q293_streaming_fingerprint",
    oracle="""
    WITH hashed AS (
      SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                       1, 8) AS BIGINT) % 100 < 2 THEN 'test'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                       1, 8) AS BIGINT) % 100 < 5 THEN 'val'
                  ELSE 'train' END AS split,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 2147483647 AS h
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))
                % 9223372036854775807 AS BIGINT) AS fingerprint
    FROM hashed GROUP BY split
    """,
)
def q293_streaming_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dataset fingerprint — q286's content address maintained
    AS DOCUMENTS ARRIVE: the commutative Σh design is exactly what makes
    the fingerprint a legal streaming aggregate (order-independent,
    associative, bounded state of one decimal per split), so an
    ingest-time stream keeps the corpus version id current with zero
    re-reads — the property neither a sorted-concat hash nor a Merkle
    root has without replay. Bounded availableNow replay here; the
    final state must hash-match the batch oracle (the q71/q95 parity
    recipe, now for a custom algebraic aggregate). In production this
    graph runs unbounded in update mode and the sink upserts the
    three-row fingerprint table every batch."""
    src = load_stream(spark, sf_dir, "documents")
    bk = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = F.when(bk < 2, "test").when(bk < 5, "val").otherwise("train")
    h = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint")
        % 2147483647
    )
    agg = (
        src.select(split.alias("split"), h.alias("h"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))"
                " % 9223372036854775807 AS BIGINT)"
            ).alias("fingerprint"),
        )
    )
    return _drain(agg, "q293_streaming_fingerprint_sink").select("split", "n_docs", "fingerprint")


from hoops_edge_database_etl_spark.queries import _ORACLES  # noqa: E402


@query("q434_streaming_countmin", oracle=_ORACLES["q125_countmin_heavy_hitters"])
def q434_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q125's COUNT-MIN SKETCH maintained AS A STREAM — the q293 design
    argument applied to frequency sketching: the d×w counter grid is a
    legal unbounded streaming aggregate precisely BECAUSE it is
    cell-wise mergeable with fixed cardinality (≤ d·w grouped rows of
    state, input-size independent — the property that makes count-min
    a sketch is the same property that bounds the streaming state
    store). Each incoming lineitem explodes into its d (row, bucket)
    cells; a complete-mode groupBy-count over the bounded availableNow
    replay materializes the finished sketch; the heavy-hitter PROBE
    (exact top-10 candidates, min-over-rows estimate) then runs as
    batch post-processing against the materialized grid. Output —
    and therefore ORACLE — are q125's verbatim: the hash-equality
    proves the streamed sketch is bit-identical to the batch-built
    one, which is the exactly-once upgrade-path claim (rebuild the
    sketch from a replayed log and nothing changes). The affine hash
    family is RNG-free, so determinism survives the streaming
    micro-batch split points."""
    from hoops_edge_database_etl_spark.queries.sketches import (
        CM_P,
        CM_ROWS,
        CM_TOPN,
        CM_W,
    )
    from hoops_edge_database_etl_spark.tables import load

    src = load_stream(spark, sf_dir, "lineitem")
    buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("key") + F.lit(b)) % CM_P) % CM_W).alias(
                    "col"
                ),
            )
            for j, a, b in CM_ROWS
        ]
    )
    agg = (
        src.select(F.col("l_suppkey").alias("key"))
        .select(F.explode(buckets).alias("jc"))
        .groupBy(F.col("jc.j").alias("j"), F.col("jc.col").alias("col"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    sketch = _drain(agg, "q434_streaming_countmin_sink")

    base = load(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("key"))
    exact = base.groupBy("key").agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    cand = (
        exact.orderBy(F.col("exact_cnt").desc(), F.col("key"))
        .limit(CM_TOPN)
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
            (F.col("cm_estimate") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )
