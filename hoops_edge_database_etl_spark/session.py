"""SparkSession factory tuned for both local testing and cluster scale.

The reference is a single-process PyArrow pipeline (SURVEY.md §0); here every
knob that matters at 100 TB is set once: AQE (runtime re-planning + skew-join
splitting + partition coalescing), UTC session timezone (oracle parity),
Arrow-based Python interop, and a shuffle-partition count sized to the local
core count rather than the 200 default.

The generated-code cache holds 1000 classes, not Spark's default 100
(``spark.sql.codegen.cache.maxEntries`` is a static conf, so it is set here,
before the context starts). The cache is an LRU keyed by the generated source,
and its working set depends on the code's distinct plan shapes, not on data
size. One season pass (normalize → play-by-play enrichment → game-team and
daily rollups → ratings → backtest and quality plans → upsert) generates
153–155 distinct classes both at 12 teams × 14 days and at 8 teams × 15 days.
At a cap of 100 an LRU that cycles through that many keys misses on every one,
so each repeat of the pass recompiled 137–138 classes (1.6–2.0 s of Janino
time on 4 cores, plus the JIT work on the new bytecode). At 1000 a repeat
compiles none. Whole-stage classes are named without their codegen stage
id (``spark.sql.codegen.useIdInClassName``): AQE numbers a query's stages
as it re-plans them, which follows the order sibling stages finish in, so
the same stage can be id 4 in one run and id 5 in the next, and with the id
in the class name identical code was a new cache key. After ~60 other
registry queries in the same session, the first repeat of the season
chain compiled 4–6 classes that way; without the id, none. One
``bench.py`` headline pass (66 queries, one rep, no warm-up) generates 1,164
distinct classes, the largest single query (q410) 103; the bench repeats each
query back to back, so it needs only the per-query working set.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "hoops-edge-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything configured here is master-agnostic except the
    ``local[N]`` fallback used for tests/bench.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    shuffle_partitions = str(
        shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS") or cpus
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Right-size shuffles for the active parallelism; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        # Runtime re-planning: join-strategy switches, skew splitting, coalesce.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle (naive == UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for createDataFrame/toPandas/pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) reads as long; the loader
        # converts to a microsecond timestamp (tables.load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dimension tables (nation/region/customer-scale dims) broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Hold every generated class of a pipeline pass (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small driver-built DataFrame, shipped to the JVM as one Arrow table.

    Same contract as ``spark.createDataFrame(rows, ddl)``, but the plan is a
    ``LocalTableScan``: a Python list would be pickled through a Python RDD,
    which forks a Python worker per core just to read a few rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(ddl))
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    return spark.createDataFrame(table)
