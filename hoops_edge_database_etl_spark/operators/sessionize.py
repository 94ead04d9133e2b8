"""Order-dependent sessionization (SURVEY.md §2.5 W2/W3), all as window
functions: one shuffle on the group key, codegen'd, no Python in the plan.

1. ``sessionize_by_gap`` — "new session" depends only on the current and
   previous row: lag → boundary flag → cumulative sum.

2. ``possession_sessionize`` — the reference's possession state machine
   (build_pbp_plays_enriched.py:181-276). It looks history-dependent (a
   defensive rebound hands the PENDING offense to the rebounder's team),
   but every transition depends on at most two earlier plays, so
   ``last(…, ignorenulls)`` over the rows before the current one carries
   the whole state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def sessionize_by_gap(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    gap_seconds: float,
    order_tiebreak: list[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a monotonically increasing session id per group using the
    lag → boundary-flag → cumulative-sum formulation (W2's scalable core).

    A new session starts when the gap to the previous event is >=
    ``gap_seconds`` (half-open sessions, matching ``F.session_window``).
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (order_tiebreak or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    gap_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)
    new_session = (
        prev_ts.isNull() | (gap_us >= int(gap_seconds * 1_000_000))
    ).cast("long")
    cum = Window.partitionBy(*group_cols).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(session_col, F.sum(new_session).over(cum))


#: kinds after which the next action opens a new possession
_CLOSERS = ("made_shot", "turnover", "made_last_ft", "defensive_rebound", "period_end")


def possession_sessionize(
    df: DataFrame,
    game_col: str = "game_id",
    period_col: str = "period",
    clock_col: str = "seconds_remaining",
    id_col: str = "play_id",
    team_col: str = "team_id",
    kind_col: str = "play_kind",
) -> DataFrame:
    """Append possession_id / offense_team_id / possession_end to every play.

    Semantics (reference: build_pbp_plays_enriched.py:181-276):
      - plays are ordered (period asc, clock desc, id asc) within a game (W1);
      - an *action* is any play whose kind is neither ``other`` nor
        ``period_end``; the first action of a game or period opens a
        possession, credited to its acting team;
      - a made shot, turnover, made LAST free throw, defensive rebound or
        period end closes the possession, and the next action opens one;
      - after a defensive rebound the REBOUNDER's team is the next offense,
        whoever acts next — unless a period boundary intervenes.

    Window form: the state before a play is read off two earlier plays.
      - previous event = last non-``other`` play. The play is pending a new
        possession if there is none, it lies in another period, or it is a
        closer.
      - previous action = last action. If it is a defensive rebound in the
        same period, its team is the pending offense.
    A play opens a possession if it is an action and pending; possession_id
    counts openers so far, offense_team_id is the last opener's
    coalesce(pending offense, own team), and possession_end marks a closer
    once some possession has an offense.

    Nulls: a null ``kind_col`` is a non-closing action. A null
    ``period_col`` sorts first (ascending nulls first) and is a period of
    its own, so the step from it to period 1 is a period boundary. A null
    ``team_col`` on an opener gives offense_team_id null (and so no
    possession_end) until the next opener; a defensive rebound with a null
    team hands the ball to whichever team acts next.

    Input ``kind_col`` is one of: made_shot, missed_shot, turnover,
    defensive_rebound, offensive_rebound, made_last_ft, made_ft, missed_ft,
    period_end, other — produced upstream by the expression-compiled play
    classifier (functions.playclass), mirroring pbp_stats.py:76-110.
    """
    kind = F.coalesce(F.col(kind_col), F.lit(""))
    period = F.col(period_col)
    is_action = ~kind.isin("other", "period_end")
    w = Window.partitionBy(game_col).orderBy(
        period.asc(), F.col(clock_col).desc(), F.col(id_col).asc()
    )
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def last_before(cond, **fields):
        row = F.struct(*(c.alias(n) for n, c in fields.items()))
        return F.last(F.when(cond, row), ignorenulls=True).over(before)

    event = last_before(kind != "other", p=period, closes=kind.isin(*_CLOSERS))
    action = last_before(
        is_action, p=period, dreb=kind == "defensive_rebound", team=F.col(team_col)
    )
    pending = event.isNull() | ~event["p"].eqNullSafe(period) | event["closes"]
    pending_offense = F.when(action["dreb"] & action["p"].eqNullSafe(period), action["team"])
    # the opener's offense rides in a struct so a null team is carried
    # forward as null rather than skipped by ignorenulls
    opener_team = F.coalesce(pending_offense, F.col(team_col)).alias("t")
    marked = df.withColumn("__opener", F.when(is_action & pending, F.struct(opener_team)))
    offense = F.last("__opener", ignorenulls=True).over(upto)["t"]
    return marked.select(
        *df.columns,
        F.count("__opener").over(upto).alias("possession_id"),
        offense.alias("offense_team_id"),
        (kind.isin(*_CLOSERS) & offense.isNotNull()).alias("possession_end"),
    )
