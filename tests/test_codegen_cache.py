"""The season pipeline compiles its generated code once per JVM.

Spark caches each whole-stage-codegen class in an LRU capped by
``spark.sql.codegen.cache.maxEntries``. One season pass generates ~150
distinct classes, so with Spark's default cap of 100 a rerun of the same
operator chain evicts and recompiles nearly every one of them. The session
factory sizes the cap to the pipeline's working set; this test reruns the
chain in the shared test session and counts Janino compiles."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from perfbench.gen import write_season

RAW_SCHEMA = ", ".join(
    f"{c} string"
    for c in (
        "id", "playId", "gameId", "gameDate", "period", "secondsRemaining", "teamId",
        "isHome", "playText", "scoreValue", "homeScore", "awayScore",
    )
)
GAMES_SCHEMA = (
    "game_id long, game_date date, home_team_id long, away_team_id long, book_spread double"
)
FIELDS = [
    ("game_id", LongType(), ("gameId",)),
    ("play_id", LongType(), ("id", "playId")),
    ("period", IntegerType(), ()),
    ("seconds_remaining", DoubleType(), ("secondsRemaining",)),
    ("team_id", LongType(), ("teamId",)),
    ("play_text", StringType(), ("playText",)),
    ("score_value", DoubleType(), ("scoreValue",)),
    ("home_score", DoubleType(), ("homeScore",)),
    ("away_score", DoubleType(), ("awayScore",)),
    ("game_date", DateType(), ("gameDate",)),
    ("is_home", BooleanType(), ("isHome",)),
]


def _season_chain(spark, raw: str, out: str, rating_dates: list) -> None:
    """normalize → silver plays → game-team stats → daily rollup → ratings →
    backtest → quality, each step's output written or collected."""
    from hoops_edge_database_etl_spark.normalize import TableSpec, normalize_records
    from hoops_edge_database_etl_spark.operators.pbp import (
        enrich_plays,
        game_team_stats,
        team_daily_rollup,
    )
    from hoops_edge_database_etl_spark.operators.ratings import ratings_per_date
    from hoops_edge_database_etl_spark.plans.backtest import (
        attach_ratings,
        backtest_metrics,
        roi_by_threshold,
    )
    from hoops_edge_database_etl_spark.plans.quality import duplicate_keys, null_profile
    from hoops_edge_database_etl_spark.sources.io import write_partitioned

    spec = TableSpec(
        name="codegen_cache_plays",
        primary_keys=("play_id",),
        schema=StructType([StructField(n, t) for n, t, _ in FIELDS]),
        aliases={n: a for n, _, a in FIELDS if a},
    )
    path = lambda name: os.path.join(out, name)  # noqa: E731
    raw_plays = spark.read.schema(RAW_SCHEMA).json(os.path.join(raw, "plays"))
    write_partitioned(normalize_records(raw_plays, spec), path("plays"), ["game_date"])
    plays = spark.read.parquet(path("plays"))
    write_partitioned(game_team_stats(enrich_plays(plays)), path("gts"), [])
    gts = spark.read.parquet(path("gts"))
    write_partitioned(team_daily_rollup(gts), path("rollup"), [])
    games = gts.select(
        "game_date", "team_id", F.col("opp_team_id").alias("opp_id"), "off_eff", "is_home"
    )
    ratings = ratings_per_date(spark, games, rating_dates=rating_dates, half_life_days=30.0)
    write_partitioned(ratings, path("ratings"), [])

    pts = lambda home, alias: gts.filter(F.col("is_home") == home).select(  # noqa: E731
        "game_id", F.col("pts").alias(alias)
    )
    scored = (
        spark.read.schema(GAMES_SCHEMA).json(os.path.join(raw, "games.ndjson"))
        .join(pts(True, "home_points"), "game_id")
        .join(pts(False, "away_points"), "game_id")
    )
    preds = attach_ratings(scored, spark.read.parquet(path("ratings")))
    assert backtest_metrics(preds).collect()[0]["n_games"] > 0
    roi_by_threshold(preds).collect()
    null_profile(plays).collect()
    assert duplicate_keys(plays, ["play_id"]).collect() == []


def test_season_chain_rerun_compiles_nothing(spark, tmp_path):
    info = write_season(str(tmp_path / "input"), seed=3, n_teams=8, n_days=15)
    first = dt.date.fromisoformat(info["first_day"])
    rating_dates = [first + dt.timedelta(days=7 * k) for k in range(1, info["days"] // 7 + 1)]
    raw = str(tmp_path / "input" / "raw")
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    _season_chain(spark, raw, str(tmp_path / "run0"), rating_dates)
    before = compiles.getCount()
    _season_chain(spark, raw, str(tmp_path / "run1"), rating_dates)
    assert compiles.getCount() - before == 0
