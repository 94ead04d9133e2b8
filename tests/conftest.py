"""Shared fixtures: one SparkSession per test run + DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))  # the plan-audit detectors

# sf0.01 mirrors the driver's t2 gate exactly; sf0.001 hid ordering
# nondeterminism (duplicate keys only appear at 0.01).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from hoops_edge_database_etl_spark.session import get_spark

    # Small local parallelism keeps test startup/shuffle overhead low.
    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def registry_plans(spark):
    """{query: RegistryPlan} for the whole registry, each query function
    called once per session; every registry-wide audit reads from it
    (scripts/audit_registry.py)."""
    from audit_registry import registry_plans as sweep

    return sweep(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    from hoops_edge_database_etl_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def compare_query(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    """Run queries()[name] in Spark and its oracle in DuckDB; assert equal
    (row count, sorted column names, order-insensitive cell values)."""
    from hoops_edge_database_etl_spark.oracle_contract import norm_cell
    from hoops_edge_database_etl_spark.queries import all_oracles, all_queries

    qfn = all_queries()[name]
    sql = all_oracles()[name]

    sdf = qfn(spark, sf_dir)
    s_cols = sorted(sdf.columns)
    s_rows = [tuple(norm_cell(r[c]) for c in s_cols) for r in sdf.collect()]

    res = duck.execute(sql)
    d_cols_raw = [d[0] for d in res.description]
    d_rows_raw = res.fetchall()
    order = sorted(range(len(d_cols_raw)), key=lambda i: d_cols_raw[i])
    d_cols = [d_cols_raw[i] for i in order]
    d_rows = [tuple(norm_cell(row[i]) for i in order) for row in d_rows_raw]

    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    s_sorted = sorted(s_rows, key=lambda t: tuple(x if x is not None else "" for x in t))
    d_sorted = sorted(d_rows, key=lambda t: tuple(x if x is not None else "" for x in t))
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
