"""Recurring oracle output-TYPE audit (VERDICT r9 item 1).

CORRECTNESS_r09's only red rows (q314/q338) were values-identical but
hash-mismatched because their DuckDB oracles leaked an un-cast HUGEINT
(INT128) output column — DuckDB widens SUM(INTEGER) window aggregates
and `//` results to HUGEINT, which the driver's hasher serializes
differently from the Spark side's int64 even when every value fits in
64 bits. The same latent landmine sat in q437 (`ltv12_c`) and q474
(the `*_fx` columns), predicted to go red when the drain reached them.

This test closes the CLASS: DESCRIBE every registered oracle in DuckDB
(plan-only — nothing executes) and assert every output column's type is
in the closed scalar set the driver's hasher round-trips faithfully.
Since round 11 the DECIMAL(38,0) allowlist is EMPTY — r10 falsified the
"safe when both engines carry it" theory (q371/q402 red with values
verified identical) — so any HUGEINT or DECIMAL output fails here
before the driver ever sees it. Wide accumulators stay internal.
"""

from __future__ import annotations

import pytest

# The contract constants live in a non-test module so the verify
# skill's drive.py can import them without dragging in tests/conftest
# (r10 ADVICE). EMPTY allowlist by design since round 11: the r10
# driver falsified the theory that DECIMAL(38,0) is hasher-safe when
# both engines carry it (q371 red with u_doubled = 46,241 — magnitude
# ruled out; same signature as r9's HUGEINT class, one type family
# over). Every former member (q238 u2; q297 r1/u1/u2 doubled; q371
# u_doubled; q402 wcss/drop_from_prev/curvature; q417 brier_num_e12;
# q442 shift_num) now casts to BIGINT at the output boundary in BOTH
# engines — except q478's u (~n^4, overflowed int64 live at the r11
# sf1 soak), which ships as its exact decimal STRING. The DECIMAL(38,0)
# accumulators remain internal (the r8 overflow fix is about
# intermediate state, not presentation), and ANSI mode throws rather
# than wraps if a BIGINT output ever exceeds int64.
from hoops_edge_database_etl_spark.oracle_contract import (  # noqa: F401
    ALLOWED,
    DECIMAL38_ALLOWLIST,
)


@pytest.fixture(scope="module")
def oracle_types(duck):
    """{query: [(col, type), ...]} via DESCRIBE — binds every oracle's
    plan against the real views without executing anything."""
    from hoops_edge_database_etl_spark.queries import all_oracles

    out = {}
    for name, sql in sorted(all_oracles().items()):
        out[name] = [(r[0], r[1]) for r in duck.execute(f"DESCRIBE {sql}").fetchall()]
    return out


def test_no_hugeint_or_unknown_types(oracle_types):
    bad = []
    for name, cols in oracle_types.items():
        for col, typ in cols:
            if typ in ALLOWED:
                continue
            if typ == "DECIMAL(38,0)" and (name, col) in DECIMAL38_ALLOWLIST:
                continue
            bad.append((name, col, typ))
    assert not bad, (
        "oracle output columns with driver-hasher-unsafe types (cast them "
        f"in the oracle SQL — usually CAST(... AS BIGINT)): {bad}"
    )


def test_decimal38_allowlist_is_exact(oracle_types):
    """The allowlist must not go stale: every entry must still exist and
    still be DECIMAL(38,0) (a retired entry would silently permit a
    future unrelated column of the same name)."""
    actual = {
        (name, col)
        for name, cols in oracle_types.items()
        for col, typ in cols
        if typ == "DECIMAL(38,0)"
    }
    assert actual == DECIMAL38_ALLOWLIST, (
        f"stale allowlist: extra={actual - DECIMAL38_ALLOWLIST} "
        f"retired={DECIMAL38_ALLOWLIST - actual}"
    )


#: DuckDB DESCRIBE type -> the Spark simpleString(s) the driver's hasher
#: is KNOWN to round-trip identically (q314/q338 proved the negative for
#: INT128 vs int64; everything here is backed by green official rows).
#: int-family widths may legitimately differ (the hasher is value-based
#: below 64 bits) — both widths are listed where history proves them.
_SPARK_EQUIV = {
    "BIGINT": {"bigint", "int"},
    "INTEGER": {"int", "bigint"},
    "SMALLINT": {"smallint", "int", "bigint"},
    "TINYINT": {"tinyint", "int", "bigint"},
    "DOUBLE": {"double"},
    "FLOAT": {"float", "double"},
    "VARCHAR": {"string"},
    "DATE": {"date"},
    "BOOLEAN": {"boolean"},
    "TIMESTAMP": {"timestamp"},
    "DECIMAL(38,0)": {"decimal(38,0)"},
}


def test_cross_engine_column_types_agree(registry_plans, oracle_types):
    """Every oracle output column's DuckDB type must map to the Spark
    column's type under _SPARK_EQUIV. This is the full-width version of
    the HUGEINT class: a float column one engine computes in DOUBLE and
    the other returns as string, or a date vs timestamp disagreement,
    would hash-mismatch with values 'equal' to the eye. Reads the
    schemas of the shared registry sweep; nothing executes here."""
    bad = []
    for name, cols in sorted(oracle_types.items()):
        spark_types = registry_plans[name].schema
        for col, typ in cols:
            ok = _SPARK_EQUIV.get(typ, set())
            if spark_types.get(col) not in ok:
                bad.append(f"{name}.{col}: duck={typ} spark={spark_types.get(col)}")
    assert not bad, (
        "cross-engine output-type disagreements (hasher hazard class):\n"
        + "\n".join(bad)
    )


def test_decimal38_columns_are_decimal_in_spark_too(registry_plans):
    """For each allowlisted pair, the Spark query's ANALYZED schema (no
    execution) must carry decimal(38,0) at the same column — the only
    configuration where the driver hashes both sides identically."""
    for name in sorted({n for n, _ in DECIMAL38_ALLOWLIST}):
        spark_types = registry_plans[name].schema
        for n, col in DECIMAL38_ALLOWLIST:
            if n != name:
                continue
            assert spark_types.get(col) == "decimal(38,0)", (
                f"{name}.{col}: oracle is DECIMAL(38,0) but Spark side is "
                f"{spark_types.get(col)} — the driver hasher will mismatch"
            )


def test_norm_cell_contract():
    """The one cell normalizer every oracle comparison uses: NaN stays
    distinct from NULL (a NaN-vs-NULL pair must not read MATCH), -0.0
    folds into 0.0, and booleans compare as "0"/"1"."""
    from hoops_edge_database_etl_spark.oracle_contract import norm_cell

    assert norm_cell(float("nan")) != norm_cell(None)
    assert norm_cell(None) is None
    assert norm_cell(-0.0) == norm_cell(0.0)
    assert norm_cell(True) == "1"
    assert norm_cell(False) == "0"
