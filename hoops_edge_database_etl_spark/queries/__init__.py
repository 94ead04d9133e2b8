"""Query registry: every operator from SURVEY.md §2 exposed as a named query.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` registered together
with (when SQL-expressible) a DuckDB oracle SQL string computing the identical
result on the same parquet tables. The driver runs both sides at sf0.01 and
hash-compares — so Spark column aliases and oracle ``AS`` names must match,
floats are rounded identically on both sides, and dates are emitted as
formatted strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL or None (rows-only)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load_modules()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_modules()
    return dict(_ORACLES)


_LOADED = False


def _load_modules() -> None:
    """Import every query module exactly once (registration side effects)."""
    global _LOADED
    if _LOADED:
        return
    from hoops_edge_database_etl_spark.queries import (  # noqa: F401
        windows,  # isort: skip
        core,
        joins,
        aggregates,
        sql_corpus,
        textstats,
        dedup_text,
        similarity,
        solver,
        sketches,
        streamq,
        events_analytics,
        cdc,
        layout,
        tpch_shapes,
        tokenization,
        search,
        spatial,
    )

    _LOADED = True
