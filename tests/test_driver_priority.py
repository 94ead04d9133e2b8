"""The driver's query rotation: ``__spark_entry__.queries()`` order.

The driver checks about 50 queries per round, walking ``queries()`` in
dict order. ``__spark_entry__`` computes that order from the
``CORRECTNESS_r*.json`` records on disk each time it is called:
  1. latest-row-FAILED queries (ascending number) — a red row's
     re-check must not wait behind the never-checked drain;
  2. never-checked queries (ascending number);
  3. checked-green queries, stalest round first, then ascending number.

These tests recompute the contract from the raw records, so a new
record file can never leave the rotation stale.

No Spark session needed — pure registry + JSON.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _num(q: str) -> int:
    return int(re.match(r"q(\d+)", q).group(1))


def _latest():
    from __spark_entry__ import latest_rows

    return latest_rows()


def _raw_latest() -> dict[str, tuple[int, dict]]:
    """{query: (latest round, latest row)} read straight from the records,
    independent of the helpers under test."""
    latest: dict[str, tuple[int, dict]] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)", os.path.basename(f)).group(1))
        for k, v in json.load(open(f)).items():
            if k not in latest or rnd >= latest[k][0]:
                latest[k] = (rnd, v)
    return latest


def _raw_failed(v) -> bool:
    if not isinstance(v, dict):
        return False
    if any(v.get(k) is False for k in ("rows_match", "schema_match", "hash_match")):
        return True
    return bool(v.get("err")) and v.get("err") != "no_oracle"


def _priority_and_registry():
    import __spark_entry__
    from hoops_edge_database_etl_spark.queries import _load_modules, _QUERIES

    _load_modules()
    return list(__spark_entry__.queries()), set(_QUERIES)


def test_priority_covers_registry_exactly():
    prio, registry = _priority_and_registry()
    assert set(prio) == registry, (
        "every registered query must appear in queries() exactly once"
    )
    assert len(prio) == len(set(prio)), "queries() has duplicates"


def test_priority_fronts_failed_then_never_checked():
    """The driver walks ~50 entries per round: every query whose latest
    official row FAILED comes first, then every never-checked query,
    and only then the checked-green backlog."""
    prio, _ = _priority_and_registry()
    latest = _latest()
    failed = {q for q, (_, bad) in latest.items() if bad}
    never = {q for q in prio if q not in latest}
    front_len = len(failed) + len(never)
    green_in_front = [q for q in prio[:front_len] if q in latest and q not in failed]
    assert not green_in_front, (
        f"{len(green_in_front)} already-green queries (e.g. "
        f"{green_in_front[:3]}) sit ahead of the {len(failed)} failed + "
        f"{len(never)} never-checked front"
    )
    failed_positions = [i for i, q in enumerate(prio) if q in failed]
    assert failed_positions == list(range(len(failed))), (
        f"failed-latest-row queries {sorted(failed)} must open the rotation "
        "(their re-check cannot wait behind the drain)"
    )


def test_priority_never_block_is_ascending():
    """Within each front tier (failed, then never-checked) the order is
    ascending query number (oldest registrations wait longest)."""
    prio, _ = _priority_and_registry()
    latest = _latest()
    failed = {q for q, (_, bad) in latest.items() if bad}

    failed_nums = [_num(q) for q in prio if q in failed]
    never_nums = [_num(q) for q in prio if q not in latest]
    assert failed_nums == sorted(failed_nums), (
        "failed tier is not in ascending query-number order"
    )
    assert never_nums == sorted(never_nums), (
        "never-checked block is not in ascending query-number order"
    )


def test_priority_green_tier_is_stalest_first():
    """The green backlog is walked stalest round first (then ascending
    number), so a query last checked long ago is never starved by one
    the driver checked last round."""
    prio, _ = _priority_and_registry()
    raw = _raw_latest()
    green = [q for q in prio if q in raw and not _raw_failed(raw[q][1])]
    keys = [(raw[q][0], _num(q)) for q in green]
    assert keys == sorted(keys), (
        f"green tier is not stalest-first: it opens with rounds "
        f"{[r for r, _ in keys[:5]]} while the stalest is r{min(keys)[0]}"
    )


def test_rotation_orders_synthetic_rows():
    """The pure helper on made-up records: failed before never-checked
    before green, ascending number inside the front tiers, green by
    (round, number); with no records it keeps the given order."""
    from __spark_entry__ import rotation

    names = ["q9_a", "q3_b", "q7_c", "q1_d", "q5_e", "q2_f", "q8_g"]
    latest = {
        "q9_a": (4, True),
        "q3_b": (6, True),
        "q1_d": (5, False),
        "q5_e": (2, False),
        "q2_f": (5, False),
    }
    assert rotation(names, latest) == [
        "q3_b",  # failed
        "q9_a",
        "q7_c",  # never checked
        "q8_g",
        "q5_e",  # green r2
        "q1_d",  # green r5
        "q2_f",
    ]
    assert rotation(names, {}) == names


def test_row_failed_contract():
    """Pin the green/failed classification: explicit false on any match
    flag or a non-contract err is failed; the q53 rows-only contract
    (err='no_oracle', flags None) is green."""
    from __spark_entry__ import row_failed

    assert not row_failed(
        {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    )
    assert row_failed(
        {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    )
    assert not row_failed(
        {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "err": "no_oracle",
        }
    )
    assert row_failed({"rows_match": None, "err": "Py4JJavaError: boom"})


def test_failed_tier_matches_artifacts():
    """Cross-check: recompute failed-latest from the raw JSON (not via
    the helpers) and assert the helper agrees."""
    expect_failed = {q for q, (_, v) in _raw_latest().items() if _raw_failed(v)}
    helper_failed = {q for q, (_, b) in _latest().items() if b}
    assert helper_failed == expect_failed
