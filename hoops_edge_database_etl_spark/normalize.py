"""Normalize layer: messy JSON records → typed, deduplicated DataFrames.

The reference centralizes schema chaos in ``normalize_records``
(normalize.py:816-894) plus per-callsite alias hacks scattered through
orchestrate.py:1010-1165 — SURVEY.md §7 calls centralizing this "the single
most reused primitive". Spark-first re-expression:

- declared ``TableSpec`` (name, primary keys, StructType) registry;
- alias resolution = one ``coalesce`` over candidate columns (replaces
  ``pydict_get_first``, _io_helpers.py:101-106);
- lenient casts = ``try_cast`` semantics (null on failure, never error —
  normalize.py:816-840), with the reference's two quirks preserved:
  int accepts float-strings ("12.0" → 12) and bool accepts "true/1/yes";
- union-of-keys tolerance: declared columns missing from the input are
  materialized as typed NULLs (normalize.py:860-870);
- deterministic PK dedup: first occurrence by an explicit arrival-order
  column (SURVEY §7: Spark's dropDuplicates is order-nondeterministic, so
  the choice is made observable);
- permissive multi-frame union with the reference's promotion rule:
  numeric conflicts → double, anything else → string
  (_io_helpers.py:141-179).

Everything is Column expressions except ``parse_pyrepr_json`` — the one
sanctioned UDF (F7): Python-repr dict strings ("{'a': None, True}") have no
Catalyst parser, and the reference repairs them with ast.literal_eval
(orchestrate.py:1188-1227). It is applied ONLY at the bronze→silver
boundary, never in analytic plans.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructType,
    TimestampType,
)


@dataclass(frozen=True)
class TableSpec:
    """Declared contract for one table (reference: TableSpec,
    normalize.py:10-14, specs 32-813)."""

    name: str
    primary_keys: tuple[str, ...]
    schema: StructType
    #: target column → candidate source names, first present wins
    #: (reference: _apply_key_aliases, orchestrate.py:1010-1165)
    aliases: dict[str, tuple[str, ...]] = field(default_factory=dict)


_REGISTRY: dict[str, TableSpec] = {}


def register_spec(spec: TableSpec) -> TableSpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate TableSpec {spec.name!r}")
    for pk in spec.primary_keys:
        if pk not in spec.schema.fieldNames():
            raise ValueError(f"{spec.name}: primary key {pk!r} not in schema")
    _REGISTRY[spec.name] = spec
    return spec


def get_spec(name: str) -> TableSpec:
    return _REGISTRY[name]


def lenient_cast(col: Column, dtype: DataType) -> Column:
    """Null-on-failure cast with the reference's lenient quirks
    (normalize.py:816-840, orchestrate.py:1230-1272):

    - int types: accept float-ish strings ("12.0" → 12) by casting through
      double and truncating, but NEVER cast booleans to int;
    - bool: accept "true/1/yes" (case-insensitive) and numeric 0/1;
    - timestamp: ``try_cast`` (null on unparseable, like dateutil-with-
      null-fallback).
    """
    if isinstance(dtype, (LongType, IntegerType)):
        s = col.cast("string")
        direct = s.try_cast(dtype.simpleString())
        # Direct cast first: the via-double path loses integer precision
        # above 2^53 (a 64-bit snowflake-style ID would round to a nearby
        # even value). Only genuine float-ish strings ("12.0") take the
        # double route.
        via_double = s.try_cast("double").try_cast(dtype.simpleString())
        return F.when(s.isin("true", "false"), F.lit(None)).otherwise(
            F.coalesce(direct, via_double)
        )
    if isinstance(dtype, BooleanType):
        s = F.lower(col.cast("string"))
        return (
            F.when(s.isin("true", "1", "yes", "1.0"), F.lit(True))
            .when(s.isin("false", "0", "no", "0.0"), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    return col.try_cast(dtype.simpleString())


def resolve_aliases(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Materialize each aliased target as the first-present candidate
    (coalesce), dropping consumed candidates — replicates
    ``pydict_get_first`` + the camelCase-duplicate drop
    (orchestrate.py:1119-1127). A resolved target moves to the end of the
    column list; the whole rewrite is one projection."""
    cols: dict[str, Column] = {c: F.col(c) for c in df.columns}
    for target, candidates in spec.aliases.items():
        present = [c for c in candidates if c in cols]
        if target in cols:
            present = [target] + [c for c in present if c != target]
        if not present:
            continue
        cols[target] = F.coalesce(*[cols.pop(c) for c in present]).alias(target)
    return df.select(*cols.values())


def conform(df: DataFrame, spec: TableSpec, keep_extra: bool = False) -> DataFrame:
    """Alias-resolve + lenient-cast + null-fill to the declared schema.

    ``keep_extra=True`` passes through undeclared columns unchanged
    (union-of-keys tolerance, normalize.py:860-870); default drops them.
    """
    out = resolve_aliases(df, spec)
    cols: list[Column] = []
    for fld in spec.schema.fields:
        if fld.name in out.columns:
            cols.append(lenient_cast(F.col(fld.name), fld.dataType).alias(fld.name))
        else:
            cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
    if keep_extra:
        declared = set(spec.schema.fieldNames())
        cols += [F.col(c) for c in out.columns if c not in declared]
    return out.select(*cols)


def dedupe_first(
    df: DataFrame, primary_keys: tuple[str, ...] | list[str], order_col: str
) -> DataFrame:
    """Keep the FIRST row per PK tuple by ``order_col`` — the deterministic
    replacement for the reference's arrival-order dedup
    (normalize.py:883-894). Rows with any null PK pass through untouched
    (orchestrate.py:667-675)."""
    pk = list(primary_keys)
    null_pk = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in pk])
    keyed = df.filter(~null_pk)
    passthrough = df.filter(null_pk)
    w = Window.partitionBy(*pk).orderBy(F.col(order_col).asc())
    kept = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.unionByName(passthrough)


def normalize_records(
    df: DataFrame, spec: TableSpec, order_col: str | None = None
) -> DataFrame:
    """The full reference pipeline: aliases → casts → null-fill → PK dedup.

    If ``order_col`` is None an ingest-order surrogate is stamped with
    ``monotonically_increasing_id`` — stable within one batch read, which
    matches the reference's within-batch arrival-order semantics."""
    stamped = (
        df.withColumn("__ingest_order", F.monotonically_increasing_id())
        if order_col is None
        else df.withColumnRenamed(order_col, "__ingest_order")
    )
    conformed = conform(stamped, spec, keep_extra=True)
    deduped = dedupe_first(conformed, spec.primary_keys, "__ingest_order")
    return deduped.select(*spec.schema.fieldNames())


# ---------------------------------------------------------------------------
# Permissive multi-frame union (S9/D1)
# ---------------------------------------------------------------------------

_NUMERIC = (LongType, IntegerType, DoubleType)


def permissive_union(frames: list[DataFrame]) -> DataFrame:
    """Union frames with drifting schemas: missing columns null-filled;
    same-name type conflicts promoted — numeric → double, else → string
    (the reference's promote_options='permissive' + unified-schema
    fallback, _io_helpers.py:52-67, 141-179)."""
    if not frames:
        raise ValueError("no frames to union")
    types: dict[str, DataType] = {}
    order: list[str] = []
    for f in frames:
        for fld in f.schema.fields:
            if fld.name not in types:
                types[fld.name] = fld.dataType
                order.append(fld.name)
            elif types[fld.name] != fld.dataType:
                a, b = types[fld.name], fld.dataType
                if isinstance(a, _NUMERIC) and isinstance(b, _NUMERIC):
                    types[fld.name] = DoubleType()
                else:
                    types[fld.name] = StringType()

    def conform_one(f: DataFrame) -> DataFrame:
        cols = []
        have = set(f.columns)
        for name in order:
            if name in have:
                cols.append(F.col(name).try_cast(types[name].simpleString()).alias(name))
            else:
                cols.append(F.lit(None).cast(types[name]).alias(name))
        return f.select(*cols)

    return reduce(lambda a, b: a.unionByName(b), [conform_one(f) for f in frames])


# ---------------------------------------------------------------------------
# F7: the one sanctioned UDF — Python-repr dict strings → canonical JSON
# ---------------------------------------------------------------------------


def _parse_pyrepr(s: str | None) -> str | None:
    if s is None or s == "":
        return None
    try:
        return json.dumps(json.loads(s), sort_keys=True)
    except (ValueError, TypeError):
        pass
    try:
        import ast

        return json.dumps(ast.literal_eval(s), sort_keys=True)
    except (ValueError, SyntaxError, TypeError):
        return None


parse_pyrepr_json = F.udf(_parse_pyrepr, StringType())
"""Scalar UDF repairing Python-repr dict strings ("{'a': None}") into
canonical JSON, null on failure — apply at the bronze→silver boundary only,
then use ``from_json`` downstream (reference: _normalize_jsonish,
orchestrate.py:1188-1227; stat-dict parsing, player_season_impact.py:209-246)."""


def parse_stat_dict(col: Column, schema: str) -> Column:
    """pyrepr/JSON stat-dict string → typed struct: repair + from_json
    (e.g. schema "made int, attempted int")."""
    return F.from_json(parse_pyrepr_json(col), schema)
