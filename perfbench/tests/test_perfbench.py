"""Tests of the benchmark itself.

The fast tests need neither Spark nor generated data. The smoke tests start
Spark and run each workload on tiny inputs (a few minutes at 4 cores):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
from spans import COUNTERS, LAYERS, Span, covered, layer_totals, self_time  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# metric names and output shape
# ---------------------------------------------------------------------------


def fake_result() -> dict:
    layers = {layer: {k: 1.5 for k in COUNTERS + ("skipped_stages",)} for layer in LAYERS}
    extra = {m["name"]: 0.5 for m in spec()["per_layer"]
             if m["name"].split(".")[-1] not in COUNTERS and m["name"] != "error_rate"}
    return {"setup_s": 7.0, "cold_pass_s": 20.0, "pass_s": 10.0, "peak_rss_mb": 2000.0,
            "attempted": 4, "failed": 0, "layers": layers, "layer_extra": extra}


def test_metric_names_are_valid_and_unique():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert {w["name"] for w in s["workloads"]} == set(run.WORKLOADS)
    assert {m["name"] for m in s["end_to_end"]} >= {"setup_s", "cold_pass_s", "pass_s", "peak_rss_mb"}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_printed_with_its_unit(trace):
    s = spec()
    declared = s["per_layer"] if trace else s["end_to_end"]
    out = run.metric_values(fake_result(), trace)
    assert set(out) == {m["name"] for m in declared}
    for m in declared:
        assert out[m["name"]]["unit"] == m["unit"]
        assert isinstance(out[m["name"]]["value"], float)


def test_every_layer_counter_is_declared():
    declared = {m["name"] for m in spec()["per_layer"]}
    assert {f"{layer}.{c}" for layer in LAYERS for c in COUNTERS} <= declared


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def span(i, layer, start, end, parent=None, jobs=(), exec_s=0.0, action=None):
    s = Span(id=i, run_id="t", name=f"s{i}", layer=layer, parent=parent, pass_no=1,
             start=start, end=end, action_at=action)
    s.spark = {"jobs": float(len(jobs)), "exec_run_s": exec_s}
    s.job_intervals = [list(j) for j in jobs]
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([(4, 4)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    parent = span(0, "normalize", 0.0, 10.0)
    kids = {0: [span(1, "sources", 2.0, 5.0, parent=0), span(2, "sources", 4.0, 6.0, parent=0)]}
    assert self_time(parent, kids) == pytest.approx(6.0)
    assert self_time(kids[0][0], kids) == pytest.approx(3.0)


def test_layer_totals_inclusive_self_and_driver_share():
    spans = [
        span(0, "normalize", 0.0, 10.0, jobs=[(0.5, 1.0)], exec_s=2.0, action=2.0),
        span(1, "sources", 2.0, 6.0, parent=0, jobs=[(2.5, 5.5)], exec_s=8.0, action=2.0),
        # same-layer nesting is counted once in the inclusive totals
        span(2, "sources", 3.0, 4.0, parent=1, jobs=[], exec_s=0.0),
    ]
    t = layer_totals(spans, cores=4)
    n, s = t["normalize"], t["sources"]
    assert n["wall_s"] == pytest.approx(10.0)
    assert n["self_s"] == pytest.approx(6.0)
    assert n["build_s"] == pytest.approx(2.0)
    assert n["jobs"] == 2 and n["exec_run_s"] == pytest.approx(10.0)
    assert n["driver_share"] == pytest.approx(1 - 3.5 / 10.0)
    assert n["core_util"] == pytest.approx(10.0 / (10.0 * 4))
    assert s["wall_s"] == pytest.approx(4.0)
    assert s["self_s"] == pytest.approx(3.0 + 1.0)
    assert s["jobs"] == 1 and s["exec_run_s"] == pytest.approx(8.0)
    assert s["driver_share"] == pytest.approx(1 - 3.0 / 4.0)
    assert t["queries"]["wall_s"] == 0


def test_build_time_ends_at_first_nested_call_without_a_marked_action():
    spans = [span(0, "normalize", 0.0, 10.0), span(1, "sources", 3.0, 9.0, parent=0)]
    assert layer_totals(spans, cores=4)["normalize"]["build_s"] == pytest.approx(3.0)
    assert layer_totals(spans, cores=4)["sources"]["build_s"] == pytest.approx(6.0)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_season_generator_is_deterministic_per_seed(tmp_path):
    small = {"n_teams": 6, "n_days": 8}
    a = gen.write_season(str(tmp_path / "a"), 5, **small)
    b = gen.write_season(str(tmp_path / "b"), 5, **small)
    c = gen.write_season(str(tmp_path / "c"), 6, **small)
    assert a == b and same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert a["plays"] > 0 and a["raw_records"] > a["plays"] and a["late_records"] > 0


def test_table_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    assert a == b and same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


# ---------------------------------------------------------------------------
# smoke runs (start Spark)
# ---------------------------------------------------------------------------


def bench(*args, cwd=ROOT, timeout=600):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "1",
         "--seconds", "0", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_is_correct(workload):
    rc, out = bench("--workload", workload, "--trace", "0", "--tiny")
    assert rc == 0
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_reports_layers():
    rc, out = bench("--workload", "etl_season", "--trace", "1", "--tiny")
    assert rc == 0 and out["failed"] == 0
    m = out["metrics"]
    assert m["error_rate"]["value"] == 0
    for layer in ("streaming", "sources", "normalize", "operators.pbp", "operators.ratings", "plans"):
        assert m[f"{layer}.wall_s"]["value"] > 0, layer
    assert m["operators.pbp.jobs"]["value"] > 0
    assert m["operators.ratings.snapshots"]["value"] == 2
    assert m["streaming.batches"]["value"] >= 2
    assert 0 < m["normalize.keep_ratio"]["value"] < 1


@pytest.mark.parametrize("workload,corrupt", [
    ("fixpoint_queries", "q61_jacobi_exact"),
    ("etl_season", "plays"),
])
def test_corrupted_expected_result_is_an_error(workload, corrupt):
    rc, out = bench("--workload", workload, "--trace", "0", "--tiny", "--corrupt", corrupt)
    assert rc == 0
    assert not out["correct"] and out["failed"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    rc, out = bench("--workload", "etl_season", "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert rc != 0 and out is None
