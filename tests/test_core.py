"""Core query oracle parity at sf0.001 (mirrors the driver's t2 check)."""

from __future__ import annotations

import pytest

from tests.conftest import compare_query

CORE_QUERIES = [
    "q01_pricing_summary",
    "q02_filter_pushdown",
    "q03_topk_orders",
    "q04_conditional_record",
    "q05_value_clamp",
    "q06_safe_division",
    "q07_union_stack",
    "q08_percent_ratio",
    "q09_date_arithmetic",
    "q10_lenient_cast",
]


@pytest.mark.parametrize("name", CORE_QUERIES)
def test_core_query_matches_oracle(spark, duck, name):
    compare_query(spark, duck, name)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_registry_consistency():
    from hoops_edge_database_etl_spark.queries import all_oracles, all_queries

    queries = all_queries()
    oracles = all_oracles()
    assert set(oracles) <= set(queries)
    assert len(queries) > 0


def test_query_docstrings_have_no_raw_placeholders():
    """A docstring is not an f-string: ``{SSSP_DIST_CAP}`` in one reaches
    ``help()`` as literal braces, so the values are written in."""
    import re

    from hoops_edge_database_etl_spark.queries import all_queries

    placeholder = re.compile(r"\{_?[A-Z][A-Z0-9_]*\}")
    raw = sorted(
        name
        for name, fn in all_queries().items()
        if placeholder.search(fn.__doc__ or "")
    )
    assert not raw, f"unformatted {{CONSTANT}} placeholders in docstrings: {raw}"


def test_load_events_without_session_factory_conf(spark):
    """Regression (VERDICT r1): the verify driver supplies its own
    SparkSession without ``nanosAsLong``; load() must set it at read time,
    not depend on session.get_spark() having configured it."""
    from hoops_edge_database_etl_spark.tables import load

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load(spark, "/root/testdata/sf0.001", "events")
        # driver testdata has shipped ts as TIMESTAMP(NANOS) (rounds 1-4;
        # arrives as bigint without the conf, load() truncates to micros)
        # and as plain timestamp[us] (round 5+; Spark reads NTZ). Either
        # way load() must yield a usable timestamp column.
        assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_unpivot_round_trips_the_wide_table(spark, duck):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q169_unpivot_long")
    rows = all_queries()["q169_unpivot_long"](spark, SF_DIR).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r["n_name"], set()).add(r["metric"])
    assert all(m == {"n_orders", "total_cents", "n_custs"} for m in by_nation.values())


def test_set_ops_all_bag_semantics(spark, duck):
    """INTERSECT ALL multiplicity = min(m, n); EXCEPT ALL = max(m-n, 0) —
    recheck a sample key's multiplicities straight from the base table."""
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q183_sql_set_ops_all")
    rows = all_queries()["q183_sql_set_ops_all"](spark, SF_DIR).collect()
    inter = {r["priority_ord"]: r["n"] for r in rows if r["op"] == "intersect_all"}
    exc = {r["priority_ord"]: r["n"] for r in rows if r["op"] == "except_all"}
    m = {k: v for k, v in duck.execute(
        "SELECT o_custkey, COUNT(*) FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1"
    ).fetchall()}
    n = {k: v for k, v in duck.execute(
        "SELECT o_custkey, COUNT(*) FROM orders WHERE o_orderstatus = 'F' GROUP BY 1"
    ).fetchall()}
    for k in list(m)[:50]:
        want_i = min(m[k], n.get(k, 0))
        want_e = max(m[k] - n.get(k, 0), 0)
        assert inter.get(k, 0) == (want_i or 0) * (1 if want_i else 0)
        if want_i:
            assert inter[k] == want_i
        assert exc.get(k, 0) == want_e if want_e else k not in exc


def test_pseudonymize_preserves_join_counts(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q186_pseudonymize")
    rows = all_queries()["q186_pseudonymize"](spark, SF_DIR).collect()
    raw = {
        seg: (nt, no)
        for seg, nt, no in duck.execute("""
            SELECT c_mktsegment, COUNT(DISTINCT c.c_custkey), COUNT(o.o_orderkey)
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY 1
        """).fetchall()
    }
    for r in rows:
        assert raw[r["segment"]] == (r["n_tokens"], r["n_orders"])


def test_filtered_aggs_subset_bounds(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q191_sql_filtered_aggs")
    rows = all_queries()["q191_sql_filtered_aggs"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_finished"] <= r["n_orders"]


def test_grouping_id_distinguishes_totals(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q204_sql_grouping_id")
    rows = all_queries()["q204_sql_grouping_id"](spark, SF_DIR).collect()
    grand = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(grand) == 1 and grand[0]["status"] == "<total>"
    n_total = duck.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert grand[0]["n"] == n_total


def test_map_column_ops_counts(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q207_map_column_ops")
    rows = all_queries()["q207_map_column_ops"](spark, SF_DIR).collect()
    assert len(rows) == 150
    for r in rows:
        assert 1 <= r["n_keys"] <= 5


def test_value_percentiles_monotone(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q208_value_percentiles")
    rows = sorted(
        all_queries()["q208_value_percentiles"](spark, SF_DIR).collect(),
        key=lambda r: r["probe"],
    )
    pcts = [r["pct_below"] for r in rows]
    assert pcts == sorted(pcts)
    assert rows[-1]["pct_below"] <= 1.0


def test_fiscal_periods_have_445_weeks(spark, duck):
    from tests.conftest import SF_DIR, compare_query
    from hoops_edge_database_etl_spark.queries import all_queries

    compare_query(spark, duck, "q216_fiscal_calendar")
    rows = all_queries()["q216_fiscal_calendar"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r["fiscal_period"] <= 12
        assert r["fiscal_year"] >= 1995


def test_q298_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q298_tiered_pricing")


def test_q298_fee_monotone_and_continuous(spark):
    """Progressive fees must be monotone in order value and continuous at
    bracket boundaries (marginal fee per cent <= the max ppm rate) —
    the classic billing off-by-one lives exactly at the thresholds."""
    import pyspark.sql.functions as F

    from hoops_edge_database_etl_spark.queries.core import (
        PRICING_TIERS,
        tier_fee_expr,
    )

    probes = sorted(
        {0, 1}
        | {v for lo, _, _ in PRICING_TIERS for v in (lo - 1, lo, lo + 1) if v >= 0}
        | {10**9}
    )
    df = spark.createDataFrame([(c,) for c in probes], "cents long")
    rows = (
        df.select("cents", tier_fee_expr(F.col("cents")).alias("fee"))
        .orderBy("cents")
        .collect()
    )
    max_ppm = max(ppm for _, _, ppm in PRICING_TIERS)
    for prev, cur in zip(rows, rows[1:]):
        dfee = cur["fee"] - prev["fee"]
        dc = cur["cents"] - prev["cents"]
        assert dfee >= 0  # monotone
        assert dfee <= dc * max_ppm  # no boundary jump


def test_q376_matches_oracle(spark, duck):
    from tests.conftest import compare_query

    compare_query(spark, duck, "q376_null_semantics")


def test_q376_three_valued_logic_identities(spark):
    from tests.conftest import SF_DIR
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = {r["method"]: r["n_rows"] for r in all_queries()["q376_null_semantics"](spark, SF_DIR).collect()}
    assert rows["null_rows"] > 0  # the punch-out actually seeded NULLs
    # NOT IN silently drops every NULL row; NOT EXISTS keeps them
    assert rows["not_exists"] == rows["not_in"] + rows["null_rows"]
    assert rows["not_in"] == rows["not_in_null_safe"]
