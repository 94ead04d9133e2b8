"""The shared convergence loop (operators/fixpoint.py) and the registry
queries that run on it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import compare_query


@pytest.mark.parametrize(
    "name",
    [
        "q117_pagerank_distributed",
        "q300_weighted_sssp",
        "q318_dag_critical_path",
        "q346_dag_slack",
    ],
)
def test_fixpoint_query_matches_oracle(spark, duck, name):
    compare_query(spark, duck, name)


def _counting(step):
    calls = []

    def wrapped(df):
        calls.append(1)
        return step(df)

    return wrapped, calls


def test_until_stable_stops_on_first_repeated_probe(spark):
    from hoops_edge_database_etl_spark.operators.fixpoint import until_stable

    step, calls = _counting(
        lambda df: df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))
    )
    out = until_stable(spark.range(1).select(F.col("id").alias("x")), step,
                       (F.sum("x"),), 10, "capped counter")
    # states 1, 2, 3, 3: the 4th sweep repeats the 3rd's probe
    assert [r["x"] for r in out.collect()] == [3]
    assert len(calls) == 4


def test_until_stable_raises_after_exactly_max_sweeps(spark):
    from hoops_edge_database_etl_spark.operators.fixpoint import until_stable

    step, calls = _counting(lambda df: df.select((F.col("x") + 1).alias("x")))
    with pytest.raises(RuntimeError, match="endless counter did not converge in 5 sweeps"):
        until_stable(spark.range(1).select(F.col("id").alias("x")), step,
                     (F.sum("x"),), 5, "endless counter")
    assert len(calls) == 5


def test_max_relax_raises_on_a_cycle(spark):
    """A planted 3-cycle makes longest paths unbounded: the sweep cap
    must raise RuntimeError (an assert would vanish under python -O)."""
    from hoops_edge_database_etl_spark.queries.solver import _max_relax

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    nodes = edges.select(F.col("src").alias("node"))
    with pytest.raises(RuntimeError, match="did not converge"):
        _max_relax(edges, nodes)


def test_unrolled_plan_grows_linearly_in_sweeps(spark):
    """Spark inlines a CTE at every place that reads it, so a sweep that
    read its predecessor twice would double the plan per sweep. HITS
    through ``unrolled`` (a planted star, and a final select that reads
    the last two CTEs) must add the same number of joins per sweep."""
    from hoops_edge_database_etl_spark.queries.solver import hits_iterate

    edges = [(0, t, 5) for t in range(1, 6)] + [(6, 7, 1)]
    e = spark.createDataFrame(edges, "src: long, dst: long, w: long")

    def joins(sweeps):
        plan = hits_iterate(e, sweeps)._jdf.queryExecution().optimizedPlan()
        return sum("Join " in ln for ln in plan.toString().splitlines())

    j2, j4, j8 = joins(2), joins(4), joins(8)
    assert 0 < j4 - j2 and j8 - j4 == 2 * (j4 - j2), (j2, j4, j8)
