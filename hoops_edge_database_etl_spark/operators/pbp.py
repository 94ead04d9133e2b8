"""Play-by-play analytics pipeline (SURVEY.md §7 steps 6–7): the
reference's core domain — classifier → possession-sessionized enriched
plays → per-game-team stat aggregation → cumulative daily rollup.

Reference shape: build_pbp_plays_enriched.py (classification + ordering +
sessionization + garbage-time), build_pbp_game_teams_flat.py (per-game hash
agg + opponent self-join + basketball formulas),
build_pbp_team_daily_rollup.py (date-spine densified running totals).
Re-expressed Spark-first:

- classification is the compiled when-chain (functions.playclass) — JVM-side;
- ordering + sessionization is one window pass per game
  (operators.sessionize), parallel across games;
- the garbage-time flag (W4) is a pure when() expression;
- the aggregation pyramid is map-side-combinable groupBy + one self-join;
- the rollup is date-spine explode + cumulative windows — no driver loops.

Expected play schema (silver `fct_plays` equivalent):
  game_id long, play_id long, period int, seconds_remaining double,
  team_id long, play_text string, score_value double,
  home_score double, away_score double, game_date date, is_home boolean
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from hoops_edge_database_etl_spark.functions.playclass import compile_classifier
from hoops_edge_database_etl_spark.operators.sessionize import possession_sessionize


def garbage_time_flag(
    period=F.col("period"),
    seconds_remaining=F.col("seconds_remaining"),
    home_score=F.col("home_score"),
    away_score=F.col("away_score"),
):
    """W4 (build_pbp_plays_enriched.py:224-229): period ≥ 2 and (margin ≥ 20
    with ≤ 10 min left, or margin ≥ 15 with ≤ 5 min left)."""
    margin = F.abs(home_score - away_score)
    return (period >= 2) & (
        ((margin >= 20) & (seconds_remaining <= 600))
        | ((margin >= 15) & (seconds_remaining <= 300))
    )


def enrich_plays(plays: DataFrame, patterns=None) -> DataFrame:
    """fct_plays → fct_pbp_plays_enriched: classify (F1), flag garbage time
    (W4), sessionize possessions (W2/W3). Classification and flags are
    expressions; the possession scan is window functions over one shuffle
    on game_id — no Python in the plan."""
    classified = plays.withColumn(
        "play_kind", compile_classifier("play_text", patterns)
    ).withColumn("garbage_time", garbage_time_flag())
    return possession_sessionize(classified)


def game_team_stats(enriched: DataFrame, include_garbage: bool = True) -> DataFrame:
    """Per (game, team) counting stats + both possession methodologies +
    derived efficiency formulas (A1/A2/J6/F9).

    One map-side-combinable groupBy produces the counters (the reference
    built a single in-memory dict from 28M rows —
    build_pbp_game_team_stats.py:155-266); the opponent's line arrives via
    a self-join on game_id (J6), not a second scan.
    """
    src = enriched if include_garbage else enriched.filter(~F.col("garbage_time"))
    k = F.col("play_kind")
    is_fg = k.isin("made_shot", "missed_shot")
    is_ft = k.isin("made_ft", "missed_ft", "made_last_ft")
    stats = (
        src.filter(F.col("team_id").isNotNull())
        .groupBy("game_id", "team_id")
        .agg(
            F.first("game_date", ignorenulls=True).alias("game_date"),
            F.first("is_home", ignorenulls=True).alias("is_home"),
            F.sum(F.coalesce("score_value", F.lit(0.0))).alias("pts"),
            F.sum(F.when(is_fg, 1).otherwise(0)).alias("fga"),
            F.sum(F.when(k == "made_shot", 1).otherwise(0)).alias("fgm"),
            F.sum(F.when(is_ft, 1).otherwise(0)).alias("fta"),
            F.sum(F.when(k.isin("made_ft", "made_last_ft"), 1).otherwise(0)).alias("ftm"),
            F.sum(F.when(k == "offensive_rebound", 1).otherwise(0)).alias("oreb"),
            F.sum(F.when(k == "defensive_rebound", 1).otherwise(0)).alias("dreb"),
            F.sum(F.when(k == "turnover", 1).otherwise(0)).alias("tov"),
            F.max("period").alias("max_period"),
        )
    )
    # event-counted possessions credited to the OFFENSE team (A2)
    poss_ev = (
        src.filter(F.col("possession_end") & F.col("offense_team_id").isNotNull())
        .groupBy("game_id", F.col("offense_team_id").alias("team_id"))
        .agg(F.count(F.lit(1)).alias("poss_event"))
    )
    stats = stats.join(poss_ev, ["game_id", "team_id"], "left").withColumn(
        "poss_event", F.coalesce("poss_event", F.lit(0))
    )
    # formula possessions (F9): FGA − OREB + TOV + 0.44·FTA — the second
    # methodology is kept deliberately (SURVEY §7 "two possession
    # methodologies must both be kept")
    stats = stats.withColumn(
        "poss_formula",
        F.col("fga") - F.col("oreb") + F.col("tov") + 0.44 * F.col("fta"),
    )
    # opponent self-join (J6): the other team's row of the same game
    opp = stats.select(
        F.col("game_id").alias("o_game_id"),
        F.col("team_id").alias("opp_team_id"),
        F.col("pts").alias("opp_pts"),
        F.col("dreb").alias("opp_dreb"),
        F.col("poss_formula").alias("opp_poss_formula"),
    )
    joined = stats.join(
        opp,
        (stats.game_id == opp.o_game_id) & (stats.team_id != opp.opp_team_id),
    ).drop("o_game_id")
    # derived metrics (F9) — 0.0-on-zero-denominator per the PBP scripts'
    # convention (gold helpers use NULL; both conventions preserved, F8)
    def safe(n, d):
        return F.when(d > 0, n / d).otherwise(F.lit(0.0))

    minutes = 40 + 5 * (F.greatest(F.col("max_period"), F.lit(2)) - 2)
    return joined.withColumns({
        "efg_pct": safe(F.col("fgm") + 0.0, F.col("fga")),
        "ts_pct": safe(F.col("pts"), 2 * (F.col("fga") + 0.44 * F.col("fta"))),
        "ft_rate": safe(F.col("fta") + 0.0, F.col("fga")),
        "oreb_pct": safe(F.col("oreb") + 0.0, F.col("oreb") + F.col("opp_dreb")),
        "off_eff": safe(100 * F.col("pts"), F.col("poss_formula")),
        "def_eff": safe(100 * F.col("opp_pts"), F.col("opp_poss_formula")),
        "game_minutes": minutes,
        "pace": safe(
            (F.col("poss_formula") + F.col("opp_poss_formula")) / 2 * 40,
            minutes.cast("double"),
        ),
    })


def team_daily_rollup(gts: DataFrame, stat_cols: list[str] | None = None) -> DataFrame:
    """Cumulative season-to-date rollup on a densified calendar spine (W6):
    one row per team per calendar day from the team's first to the
    league's last game date, carrying running totals.

    The spine is sequence+explode of a per-team 1-row aggregate; running
    totals are cumulative windows partitioned by team — the reference's
    200-line Python scan (build_pbp_team_daily_rollup.py:179-396) becomes
    two window specs."""
    stat_cols = stat_cols or ["pts", "fga", "fgm", "tov", "poss_formula"]
    daily = gts.groupBy("team_id", "game_date").agg(
        F.count(F.lit(1)).alias("games"),
        *[F.sum(c).alias(c) for c in stat_cols],
    )
    bounds = daily.groupBy("team_id").agg(F.min("game_date").alias("lo"))
    hi = daily.agg(F.max("game_date").alias("hi"))
    spine = (
        bounds.crossJoin(F.broadcast(hi))
        .select(
            "team_id", F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
        )
    )
    joined = spine.join(
        daily,
        (spine.team_id == daily.team_id) & (spine.day == daily.game_date),
        "left",
    ).select(
        spine.team_id,
        "day",
        F.coalesce("games", F.lit(0)).alias("games"),
        *[F.coalesce(c, F.lit(0)).alias(c) for c in stat_cols],
    )
    w = (
        Window.partitionBy("team_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined.select(
        "team_id",
        "day",
        F.sum("games").over(w).alias("cum_games"),
        *[F.sum(c).over(w).alias(f"cum_{c}") for c in stat_cols],
    )
    # season-to-date ratios (the reference's ~60 derived columns follow
    # this exact pattern; representative ones here)
    return out.withColumn(
        "std_off_eff",
        F.when(
            F.col("cum_poss_formula") > 0,
            100 * F.col("cum_pts") / F.col("cum_poss_formula"),
        ),
    ).withColumn(
        "std_efg_pct",
        F.when(F.col("cum_fga") > 0, F.col("cum_fgm") / F.col("cum_fga")),
    )
