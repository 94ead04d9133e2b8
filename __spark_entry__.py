"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The driver checks about 50 queries per round, walking ``queries()`` in
dict order, so both dicts come back in rotation order, computed from the
``CORRECTNESS_r*.json`` records next to this file:

  1. queries whose latest row failed, ascending query number;
  2. queries no record names, ascending query number;
  3. green queries, stalest round first, then ascending query number.

A row is failed when a match flag is explicitly false or it carries an
error other than the rows-only ``no_oracle`` contract. With no record
files the order is registration order.

All real logic lives in :mod:`hoops_edge_database_etl_spark`.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def row_failed(row: dict) -> bool:
    """A record row is failed iff a match flag is explicitly false or it
    carries an error other than ``no_oracle`` (rows-only, green by design)."""
    if any(row.get(k) is False for k in ("rows_match", "schema_match", "hash_match")):
        return True
    err = row.get("err")
    return bool(err) and err != "no_oracle"


def latest_rows() -> dict[str, tuple[int, bool]]:
    """{query: (latest round, latest row failed)} over every record file."""
    latest: dict[str, tuple[int, bool]] = {}
    for f in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r0*(\d+)", os.path.basename(f)).group(1))
        with open(f) as fh:
            for k, v in json.load(fh).items():
                if k not in latest or rnd >= latest[k][0]:
                    latest[k] = (rnd, row_failed(v) if isinstance(v, dict) else False)
    return latest


def rotation(names: Iterable[str], latest: dict[str, tuple[int, bool]]) -> list[str]:
    """``names`` in the driver's three-tier order (module docstring)."""
    names = list(names)
    if not latest:
        return names

    def key(q: str) -> tuple[int, int, int]:
        num = int(re.match(r"q(\d+)", q).group(1))
        if q not in latest:
            return (1, 0, num)
        rnd, failed = latest[q]
        return (0, 0, num) if failed else (2, rnd, num)

    return sorted(names, key=key)


def _rotated(d: dict) -> dict:
    return {k: d[k] for k in rotation(d, latest_rows())}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    from hoops_edge_database_etl_spark.queries import all_queries

    return all_queries()["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from hoops_edge_database_etl_spark.queries import all_queries

    return _rotated(all_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only check)."""
    from hoops_edge_database_etl_spark.queries import all_oracles

    return _rotated(all_oracles())
