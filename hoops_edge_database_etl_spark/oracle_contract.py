"""The oracle output-TYPE contract and the result-cell normalizer, shared
by the tests, scripts/harden_check.py and the verify skill's drive.py
(which must not import tests/* — the conftest drags in duckdb views and
SF_DIR env as import side effects).

History: r9's red rows were HUGEINT (DuckDB widens SUM(INTEGER) window
aggregates and `//` to INT128, which the driver's hasher serializes
differently from Spark's int64 even when every value fits 64 bits).
r10 falsified the follow-up theory that DECIMAL(38,0) is safe when both
engines carry it (q371 red with u_doubled = 46,241 — magnitude ruled
out). Since r11 the contract is PLAIN SCALARS ONLY: wide-integer
accumulators stay internal to each engine's plan; every output column
casts to a member of ALLOWED at the boundary — BIGINT where the value
provably fits int64 at any realistic scale (ANSI throws rather than
wraps past the bound), or the exact decimal STRING where it does not
(q478's U ~ n^4 overflowed int64 at the sf1 soak).
"""

from __future__ import annotations

import math

# The driver-hasher-safe scalar types (everything the 485 oracles emit
# as of r11: BIGINT, DOUBLE, VARCHAR, BOOLEAN, INTEGER, DATE).
# TIMESTAMP is included because the data model supports it even though
# no current oracle projects one.
ALLOWED = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "DATE",
    "BOOLEAN",
    "TIMESTAMP",
}

# EMPTY by design since round 11 (see module docstring). Do not add
# entries — cast the output column to BIGINT in both engines instead.
DECIMAL38_ALLOWLIST: set[tuple[str, str]] = set()


def norm_cell(v):
    """Normalize one result cell for exact Spark-vs-DuckDB comparison
    (mirror of the driver's hash): floats by ``repr`` with -0.0 folded
    into 0.0, NaN kept distinct from NULL, booleans as "0"/"1", every
    other non-NULL value by ``str``."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, bool):
        return str(int(v))
    return str(v) if v is not None else None
