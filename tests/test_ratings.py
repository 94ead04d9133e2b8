"""Solver semantic invariants (SURVEY.md §5: the engine-independent test
layer — winner ordering, convergence, symmetry, emergent league average,
SOS effect, no-leakage snapshots)."""

from __future__ import annotations

import datetime as dt

import pytest

from hoops_edge_database_etl_spark.operators.ratings import (
    Observation,
    barthag,
    ratings_per_date,
    solve_additive,
    solve_ratings,
)


def _pair(team_a=1, team_b=2, a_eff=120.0, b_eff=80.0):
    return [
        Observation(team=team_a, opp=team_b, off_eff=a_eff),
        Observation(team=team_b, opp=team_a, off_eff=b_eff),
    ]


def test_winner_gets_higher_ratings():
    r = solve_ratings(_pair())
    assert r[1][0] > r[2][0]  # better offense
    assert r[1][1] < r[2][1]  # better (lower) defense


def test_round_robin_converges_within_clamp():
    obs = []
    effs = {1: 115.0, 2: 105.0, 3: 95.0, 4: 85.0}
    for a in effs:
        for b in effs:
            if a != b:
                obs.append(Observation(team=a, opp=b, off_eff=effs[a]))
    r = solve_ratings(obs)
    vals = [v for pair in r.values() for v in pair]
    assert all(40.0 <= v <= 200.0 for v in vals)
    # relative ordering by margin preserved
    assert r[1][0] > r[2][0] > r[3][0] > r[4][0]


def test_symmetric_league_is_flat():
    obs = []
    for a in (1, 2, 3):
        for b in (1, 2, 3):
            if a != b:
                obs.append(Observation(team=a, opp=b, off_eff=100.0))
    r = solve_ratings(obs)
    for t in (1, 2, 3):
        assert abs(r[t][0] - 100.0) < 0.05
        assert abs(r[t][1] - 100.0) < 0.05


def test_league_average_emerges_from_data():
    """Average rating tracks the data's league average (e.g. 90), never a
    hardcoded 100 (reference invariant, test_iterative_ratings.py:154-182)."""
    obs = []
    for a in (1, 2, 3, 4):
        for b in (1, 2, 3, 4):
            if a != b:
                obs.append(Observation(team=a, opp=b, off_eff=90.0))
    r = solve_ratings(obs)
    mean_oe = sum(v[0] for v in r.values()) / len(r)
    assert abs(mean_oe - 90.0) < 0.1


def test_sos_adjustment_rewards_strong_schedule():
    """Equal raw efficiency vs strong opposition must out-rate equal raw
    efficiency vs weak opposition — the point of the solver."""
    obs = [
        # teams 10/11: strong defenses (hold everyone to 80)
        Observation(team=10, opp=11, off_eff=80.0),
        Observation(team=11, opp=10, off_eff=80.0),
        # teams 20/21: weak defenses (concede 120)
        Observation(team=20, opp=21, off_eff=120.0),
        Observation(team=21, opp=20, off_eff=120.0),
        # team 1 scores 100 on a strong defense; team 2 scores 100 on a weak one
        Observation(team=1, opp=10, off_eff=100.0),
        Observation(team=2, opp=20, off_eff=100.0),
        # return legs so 10/20 see team 1/2 defenses equally
        Observation(team=10, opp=1, off_eff=100.0),
        Observation(team=20, opp=2, off_eff=100.0),
    ]
    r = solve_ratings(obs)
    assert r[1][0] > r[2][0]


def test_home_court_deflates_home_offense():
    neutral = solve_ratings(_pair())
    with_hca = solve_ratings(
        [
            Observation(team=1, opp=2, off_eff=120.0, is_home=True),
            Observation(team=2, opp=1, off_eff=80.0, is_home=False),
        ],
        hca=4.0,
    )
    # the home team's offense loses hca/2 relative to the neutral solve
    assert with_hca[1][0] < neutral[1][0]
    assert with_hca[2][0] > neutral[2][0]


def test_recency_weights_shift_toward_recent_games():
    old_games = [Observation(team=1, opp=2, off_eff=80.0, weight=0.1)]
    new_games = [Observation(team=1, opp=2, off_eff=120.0, weight=1.0)]
    balance = [Observation(team=2, opp=1, off_eff=100.0, weight=1.0)]
    r = solve_ratings(old_games + new_games + balance)
    # weighted mean of 80 (w=.1) and 120 (w=1) is ≈116 — far above 100
    assert r[1][0] > 105.0


def test_additive_solver_ordering_and_center():
    obs = []
    effs = {1: 110.0, 2: 100.0, 3: 90.0}
    for a in effs:
        for b in effs:
            if a != b:
                obs.append(Observation(team=a, opp=b, off_eff=effs[a]))
    r = solve_additive(obs)
    assert r[1][0] > r[2][0] > r[3][0]
    mean_oe = sum(v[0] for v in r.values()) / len(r)
    assert abs(mean_oe - 100.0) < 1.0


def test_barthag_bounds():
    assert barthag(100.0, 100.0) == 0.5
    assert barthag(120.0, 80.0) > 0.99
    assert 0.0 <= barthag(40.0, 200.0) <= 0.01
    assert barthag(0.0, 100.0) == 0.5  # guard, not crash


def test_ratings_per_date_no_leakage(spark):
    """A snapshot at date d must be unaffected by games on/after d
    (reference: 'Prior games only for no leakage')."""
    d1, d2, d3 = dt.date(2024, 1, 1), dt.date(2024, 1, 5), dt.date(2024, 1, 9)
    base = [
        (d1, 1, 2, 110.0, None),
        (d1, 2, 1, 90.0, None),
        (d2, 1, 2, 105.0, None),
        (d2, 2, 1, 95.0, None),
    ]
    schema = "game_date date, team_id long, opp_id long, off_eff double, is_home boolean"
    games_a = spark.createDataFrame(base, schema)
    # games_b adds a shock game ON d2 and after — must not affect the d2 snapshot
    games_b = spark.createDataFrame(
        base + [(d2, 1, 2, 200.0, None), (d3, 2, 1, 200.0, None)], schema
    )
    snap_a = {
        (r["team_id"], r["adj_oe"])
        for r in ratings_per_date(spark, games_a, rating_dates=[d2]).collect()
    }
    snap_b = {
        (r["team_id"], r["adj_oe"])
        for r in ratings_per_date(spark, games_b, rating_dates=[d2]).collect()
    }
    assert snap_a == snap_b


def test_ratings_per_date_half_life(spark):
    """With a short half-life the latest game dominates the snapshot."""
    d = dt.date
    games = spark.createDataFrame(
        [
            (d(2024, 1, 1), 1, 2, 80.0, None),
            (d(2024, 1, 1), 2, 1, 100.0, None),
            (d(2024, 1, 20), 1, 2, 120.0, None),
            (d(2024, 1, 20), 2, 1, 100.0, None),
        ],
        "game_date date, team_id long, opp_id long, off_eff double, is_home boolean",
    )
    rd = [d(2024, 1, 21)]
    flat = ratings_per_date(spark, games, rating_dates=rd).collect()
    decayed = ratings_per_date(
        spark, games, rating_dates=rd, half_life_days=2.0
    ).collect()
    oe_flat = {r["team_id"]: r["adj_oe"] for r in flat}[1]
    oe_dec = {r["team_id"]: r["adj_oe"] for r in decayed}[1]
    assert oe_dec > oe_flat  # recent 120 dominates the old 80


def test_q61_jacobi_exact_matches_oracle(spark, duck):
    """The quantized additive Jacobi (fixed-point int64 + IEEE floor-div)
    must be bit-identical to the DuckDB recursive CTE — the exact-parity
    contract that lets an iterative solver be hash-checked at all."""
    from tests.conftest import compare_query

    compare_query(spark, duck, "q61_jacobi_exact")


def test_q61_jacobi_exact_is_centered(spark):
    """Sanity: adjusted offenses and defenses are deviations from the
    league mean, so each family sums to ~0 (floor-div truncation bounds
    the drift to < 1 rating unit per team)."""
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q61_jacobi_exact"](spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    assert abs(sum(r["off_adj"] for r in rows)) < n
    assert abs(sum(r["def_adj"] for r in rows)) < n


def test_pagerank_distributed_matches_collected(spark):
    """q117's DataFrame-iteration PageRank reproduces q94's collected-matrix
    sweeps bit-for-bit (identical int64 fixed-point arithmetic)."""
    from hoops_edge_database_etl_spark.queries.solver import (
        q94_pagerank_exact,
        q117_pagerank_distributed,
    )
    from tests.conftest import SF_DIR

    a = sorted(tuple(r) for r in q94_pagerank_exact(spark, SF_DIR).collect())
    b = sorted(tuple(r) for r in q117_pagerank_distributed(spark, SF_DIR).collect())
    assert a == b


#: fixed-count iterative query -> (queries module, its sweep-count constant)
_UNROLLED = {
    "q117_pagerank_distributed": ("solver", "_PR_ITERS"),
    "q453_personalized_pagerank": ("solver", "_PR_ITERS"),
    "q413_hits_scores": ("solver", "_HITS_SWEEPS"),
    "q437_markov_ltv": ("events_analytics", "_LTV_T"),
    "q474_markov_attribution": ("events_analytics", "_ATTR_T"),
    "q141_pca_power_iteration": ("similarity", "PCA_SWEEPS"),
}


@pytest.mark.parametrize("name", list(_UNROLLED))
def test_pagerank_distributed_call_runs_no_job_per_sweep(spark, monkeypatch, name):
    """Calling a fixed-count iterative query (no action) runs only the
    checkpoints of its inputs: the sweeps are one ``unrolled`` statement
    that Spark analyzes once, so the jobs the call runs do not depend on
    the sweep count."""
    import importlib

    from tests.conftest import SF_DIR

    module, sweeps = _UNROLLED[name]
    mod = importlib.import_module(f"hoops_edge_database_etl_spark.queries.{module}")
    sc = spark.sparkContext

    def call_jobs(group):
        sc.setJobGroup(group, f"{name} call without an action")
        try:
            getattr(mod, name)(spark, SF_DIR)
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("tests", "tests")

    full_sweeps = getattr(mod, sweeps)
    full = call_jobs(f"{name}-all-sweeps")
    monkeypatch.setattr(mod, sweeps, 1)
    one = call_jobs(f"{name}-one-sweep")
    assert full == one, (
        f"the call ran {full} jobs for {full_sweeps} sweeps, {one} for one"
    )
