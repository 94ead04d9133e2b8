"""Spread backtest plan (SURVEY.md §3.4, scripts/backtest_spreads.py):
point-in-time ratings via as-of join → Pomeroy margin prediction (F10) →
error / CLV / ROI aggregation (A9). Entirely declarative: the as-of join
is the window-based operator (no per-game bisect loops), predictions are
column math, and the metric layer is one grouped aggregate."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from hoops_edge_database_etl_spark.operators.asof import asof_join


def attach_ratings(
    games: DataFrame,
    ratings: DataFrame,
    league_avg: float = 100.0,
    hca: float = 4.0,
    pace: float = 68.0,
) -> DataFrame:
    """games(game_id, game_date, home_team_id, away_team_id, home_points,
    away_points) ⋈ ratings(team_id, rating_date, adj_oe, adj_de) — most
    recent rating STRICTLY before the game date per side (J8: no leakage),
    then the Pomeroy margin (backtest_spreads.py:235-246):
    ((h_oe·a_de − a_oe·h_de)/avg) · pace/100 + hca.

    The result is checkpointed with ``eager=False``: a backtest reads it
    twice (``backtest_metrics`` and ``roi_by_threshold``), and without
    the checkpoint each read would re-run both as-of window passes.
    Under AQE the call already runs the shuffle stages of both passes;
    only the result stage waits for the first read."""
    home = asof_join(
        games.withColumnRenamed("home_team_id", "team_id"),
        ratings,
        on="team_id",
        left_ts="game_date",
        right_ts="rating_date",
        value_cols=["adj_oe", "adj_de"],
        strict=True,
    ).withColumnsRenamed(
        {"adj_oe": "h_oe", "adj_de": "h_de", "team_id": "home_team_id"}
    )
    both = asof_join(
        home.withColumnRenamed("away_team_id", "team_id"),
        ratings,
        on="team_id",
        left_ts="game_date",
        right_ts="rating_date",
        value_cols=["adj_oe", "adj_de"],
        strict=True,
    ).withColumnsRenamed(
        {"adj_oe": "a_oe", "adj_de": "a_de", "team_id": "away_team_id"}
    )
    predicted = (
        (F.col("h_oe") * F.col("a_de") - F.col("a_oe") * F.col("h_de"))
        / league_avg
        * (pace / 100.0)
        + hca
    )
    return (
        both.withColumn("predicted_margin", predicted)
        .withColumn("actual_margin", F.col("home_points") - F.col("away_points"))
        # finite-guard predicate (P9): games without prior ratings drop out
        .filter(
            F.col("predicted_margin").isNotNull()
            & ~F.isnan("predicted_margin")
        )
        .localCheckpoint(eager=False)
    )


def backtest_metrics(preds: DataFrame, spread_col: str = "book_spread") -> DataFrame:
    """Error metrics vs the book (A9, backtest_spreads.py:296-363): MAE,
    mean error, sample stddev, book MAE, CLV rate (model disagrees with the
    book by > 3). One aggregate over the scored games."""
    err = F.col("predicted_margin") - F.col("actual_margin")
    book_err = -F.col(spread_col) - F.col("actual_margin")
    disagree = F.abs(F.col("predicted_margin") - (-F.col(spread_col)))
    return preds.agg(
        F.count(F.lit(1)).alias("n_games"),
        F.avg(F.abs(err)).alias("model_mae"),
        F.avg(err).alias("mean_error"),
        F.stddev(err).alias("stddev_error"),
        F.avg(F.abs(book_err)).alias("book_mae"),
        F.avg((disagree > 3).cast("double")).alias("clv_rate"),
    )


def roi_by_threshold(
    preds: DataFrame,
    thresholds: list[float] = (1.0, 3.0, 5.0),
    spread_col: str = "book_spread",
    juice: float = -110.0,
) -> DataFrame:
    """ROI per disagreement threshold (backtest_spreads.py:296-363): bet
    home when model > book line by ≥ t, away when < by ≥ t; win pays
    100/|juice|. GROUPING SETS-free: one row per threshold via explode."""
    model_line = -F.col(spread_col)  # book line as a home margin
    edge = F.col("predicted_margin") - model_line
    cover = F.col("actual_margin") > model_line  # home covers
    push = F.col("actual_margin") == model_line
    pay = 100.0 / abs(juice) * 100.0  # winnings per 100 staked
    t = F.col("threshold")
    bet_home = edge >= t
    bet_away = edge <= -t
    win = (bet_home & cover) | (bet_away & ~cover & ~push)
    staked = preds.select(
        "*", F.explode(F.array(*[F.lit(x) for x in thresholds])).alias("threshold")
    ).filter((bet_home | bet_away) & ~push)
    return staked.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_bets"),
        F.avg(win.cast("double")).alias("win_rate"),
        (
            (F.sum(F.when(win, pay).otherwise(-100.0))) / (100.0 * F.count(F.lit(1)))
        ).alias("roi"),
    )
