"""Iterative strength-of-schedule-adjusted ratings (SURVEY.md §2.5 W10–W14).

Reference: gold/iterative_ratings.py:80-353 (fixed-point solver),
gold/adjusted_efficiencies.py:525-637 (per-date snapshot loop with decay
weights + warm start), build_pbp_team_daily_rollup_adj.py:88-146 (simple
additive Jacobi variant). Reimplemented from the survey's spec — not a
translation.

Placement (SURVEY §4 conclusion): the fixed point has global league-average
coupling every iteration, so it is NOT a Catalyst plan. The data is tiny
after per-game aggregation (~12k team-game rows/season), so Spark's job is
everything AROUND the solve — computing per-game efficiencies and decay
weights declaratively, pruning to strictly-prior games per snapshot date
(no leakage, W7), collecting the small observation set, and turning the
per-date solutions back into a DataFrame. Per-date warm starts are kept
(they cut iterations ~10×, adjusted_efficiencies.py:546-604).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hoops_edge_database_etl_spark.session import local_frame

CLAMP_LO, CLAMP_HI = 40.0, 200.0  # efficiency sanity clamp (iterative_ratings.py:25-28)


@dataclass
class Observation:
    """One team-game: ``team`` scored ``off_eff`` pts/100 against ``opp``."""

    team: int
    opp: int
    off_eff: float
    weight: float = 1.0
    is_home: bool | None = None  # None = neutral court


def _clamp(x: float) -> float:
    return min(CLAMP_HI, max(CLAMP_LO, x))


def barthag(oe: float, de: float, exponent: float = 11.5) -> float:
    """Pythagorean win probability oe^k/(oe^k+de^k) with overflow guards
    (iterative_ratings.py:58-77)."""
    if oe <= 0 or de <= 0:
        return 0.5
    try:
        ratio = (de / oe) ** exponent
    except OverflowError:
        return 1.0 if oe > de else 0.0
    return 1.0 / (1.0 + ratio)


def solve_ratings(
    observations: list[Observation],
    *,
    sos_exponent: float = 0.85,
    hca: float = 0.0,
    max_iter: int = 200,
    tol: float = 0.01,
    damping: float = 1.0,
    shrinkage: float = 0.0,
    warm_start: dict[int, tuple[float, float]] | None = None,
) -> dict[int, tuple[float, float]]:
    """Fixed-point SOS adjustment: team → (adj_oe, adj_de).

    Per iteration, each game's offensive efficiency is opponent-adjusted by
    ``game_oe · (league_avg / opp_adj_de)^sos_exponent``, teams take the
    weight-averaged value, defenses symmetrically (a game's off_eff is the
    opponent's defensive outcome). Home offenses are deflated by hca/2 and
    road offenses inflated by hca/2 before adjustment. Iterates to
    max-change < ``tol`` with ``damping``, values clamped to [40, 200],
    non-finite guards fall back to the league average, optional shrinkage
    regresses toward the league mean. (Spec: iterative_ratings.py:80-353.)
    """
    if not observations:
        return {}
    wsum = sum(o.weight for o in observations)
    if wsum <= 0:
        return {}
    league_avg = sum(o.weight * o.off_eff for o in observations) / wsum

    def venue_adj(o: Observation) -> float:
        if o.is_home is None:
            return o.off_eff
        return o.off_eff - hca / 2 if o.is_home else o.off_eff + hca / 2

    teams = sorted({o.team for o in observations} | {o.opp for o in observations})
    oe = {t: league_avg for t in teams}
    de = {t: league_avg for t in teams}
    if warm_start:
        for t, (a, b) in warm_start.items():
            if t in oe:
                oe[t], de[t] = a, b

    for _ in range(max_iter):
        off_num: dict[int, float] = {t: 0.0 for t in teams}
        off_den: dict[int, float] = {t: 0.0 for t in teams}
        def_num: dict[int, float] = {t: 0.0 for t in teams}
        def_den: dict[int, float] = {t: 0.0 for t in teams}
        for o in observations:
            eff = venue_adj(o)
            opp_de = de[o.opp] or league_avg
            opp_oe = oe[o.team] or league_avg
            adj_off = eff * (league_avg / opp_de) ** sos_exponent
            # the same game is the opponent's defensive outcome, adjusted
            # by the SHOOTING team's offensive strength
            adj_def = eff * (league_avg / (opp_oe or league_avg)) ** sos_exponent
            if math.isfinite(adj_off):
                off_num[o.team] += o.weight * adj_off
                off_den[o.team] += o.weight
            if math.isfinite(adj_def):
                def_num[o.opp] += o.weight * adj_def
                def_den[o.opp] += o.weight

        max_delta = 0.0
        for t in teams:
            tgt_o = off_num[t] / off_den[t] if off_den[t] > 0 else league_avg
            tgt_d = def_num[t] / def_den[t] if def_den[t] > 0 else league_avg
            if shrinkage > 0:
                tgt_o = (1 - shrinkage) * tgt_o + shrinkage * league_avg
                tgt_d = (1 - shrinkage) * tgt_d + shrinkage * league_avg
            if not math.isfinite(tgt_o):
                tgt_o = league_avg
            if not math.isfinite(tgt_d):
                tgt_d = league_avg
            new_o = _clamp(oe[t] + damping * (tgt_o - oe[t]))
            new_d = _clamp(de[t] + damping * (tgt_d - de[t]))
            max_delta = max(max_delta, abs(new_o - oe[t]), abs(new_d - de[t]))
            oe[t], de[t] = new_o, new_d
        if max_delta < tol:
            break
    return {t: (oe[t], de[t]) for t in teams}


def solve_additive(
    observations: list[Observation],
    *,
    iterations: int = 25,
    hca: float = 0.0,
) -> dict[int, tuple[float, float]]:
    """Simple additive Jacobi solve (W12,
    build_pbp_team_daily_rollup_adj.py:88-146): off[t] = weighted mean of
    (off_eff − def_adj[opp] − venue) re-centered on the league mean each
    sweep; fixed iteration count, no damping."""
    if not observations:
        return {}
    wsum = sum(o.weight for o in observations)
    league_avg = sum(o.weight * o.off_eff for o in observations) / wsum
    teams = sorted({o.team for o in observations} | {o.opp for o in observations})
    off = {t: 0.0 for t in teams}  # deviations from league average
    dfn = {t: 0.0 for t in teams}

    def venue(o: Observation) -> float:
        if o.is_home is None:
            return 0.0
        return hca / 2 if o.is_home else -hca / 2

    for _ in range(iterations):
        onum = {t: 0.0 for t in teams}
        oden = {t: 0.0 for t in teams}
        dnum = {t: 0.0 for t in teams}
        dden = {t: 0.0 for t in teams}
        for o in observations:
            resid = o.off_eff - league_avg - venue(o)
            onum[o.team] += o.weight * (resid - dfn[o.opp])
            oden[o.team] += o.weight
            dnum[o.opp] += o.weight * (resid - off[o.team])
            dden[o.opp] += o.weight
        for t in teams:
            off[t] = onum[t] / oden[t] if oden[t] > 0 else 0.0
            dfn[t] = dnum[t] / dden[t] if dden[t] > 0 else 0.0
    return {t: (league_avg + off[t], league_avg + dfn[t]) for t in teams}


def ratings_per_date(
    spark: SparkSession,
    games: DataFrame,
    *,
    rating_dates: list | None = None,
    half_life_days: float | None = None,
    sos_exponent: float = 0.85,
    hca: float = 0.0,
    max_iter: int = 200,
    tol: float = 0.01,
) -> DataFrame:
    """Per-date no-leakage rating snapshots (W7/W11).

    ``games`` columns: game_date date, team_id long, opp_id long,
    off_eff double, is_home boolean (nullable). For each rating date the
    solver sees STRICTLY prior games ("Prior games only for no leakage",
    build_pbp_team_daily_rollup_adj.py:258) weighted by
    0.5^(days_before/half_life) — the weights and pruning are computed in
    Spark; only the ~10⁴-row observation set is collected per date. Warm
    start carries the previous date's solution forward.
    """
    if rating_dates is None:
        rating_dates = sorted(
            r["game_date"] for r in games.select("game_date").distinct().collect()
        )[1:]

    out_rows: list[tuple] = []
    prev: dict[int, tuple[float, float]] | None = None
    base = games.select("game_date", "team_id", "opp_id", "off_eff", "is_home")
    for rd in rating_dates:
        prior = base.filter(F.col("game_date") < F.lit(rd))
        if half_life_days:
            prior = prior.withColumn(
                "w",
                F.pow(
                    F.lit(0.5),
                    F.datediff(F.lit(rd), F.col("game_date")) / half_life_days,
                ),
            )
        else:
            prior = prior.withColumn("w", F.lit(1.0))
        obs = [
            Observation(
                team=r["team_id"],
                opp=r["opp_id"],
                off_eff=r["off_eff"],
                weight=r["w"],
                is_home=r["is_home"],
            )
            for r in prior.collect()
        ]
        solution = solve_ratings(
            obs,
            sos_exponent=sos_exponent,
            hca=hca,
            max_iter=max_iter,
            tol=tol,
            warm_start=prev,
        )
        prev = solution
        for t, (o, d) in sorted(solution.items()):
            out_rows.append((rd, t, round(o, 4), round(d, 4), round(barthag(o, d), 6)))

    return local_frame(
        spark,
        out_rows,
        "rating_date date, team_id long, adj_oe double, adj_de double, barthag double",
    )
