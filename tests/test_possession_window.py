"""Property test: the window-function possession scan
(operators.sessionize.possession_sessionize) against a plain-Python replay
of the reference's per-play transition loop.

The replay below is the reference's state machine, stepped one play at a
time over each game's plays in scan order. Null handling (also
written down in the operator's docstring):
  - a null play kind is a non-closing action (``None not in (...)``);
  - a null period sorts first and is a period of its own — the loop's
    first-row check is a sentinel, not ``None``, so the step from a null
    period to period 1 is a period boundary;
  - a null team on an opener gives a null offense; a defensive rebound
    with a null team leaves no pending offense.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

SCHEMA = (
    "game_id long, period int, seconds_remaining double, play_id long, "
    "team_id long, play_kind string"
)
KINDS = [
    "made_shot", "missed_shot", "turnover", "defensive_rebound",
    "defensive_rebound", "offensive_rebound", "made_last_ft", "made_ft",
    "missed_ft", "period_end", "other", "other", None,
]
_CLOSING = {"made_shot", "turnover", "made_last_ft"}
_START = object()


def replay(plays):
    """(period, team, kind) per play, in scan order →
    (possession_id, offense_team_id, possession_end) per play."""
    poss_id = 0
    offense = None
    pending_new = True  # next action play opens a possession
    pending_offense = None  # set only by a defensive rebound
    prev_period = _START
    out = []
    for period, team, kind in plays:
        if prev_period is not _START and period != prev_period:
            pending_new = True  # period boundary forces possession close
            pending_offense = None
        prev_period = period

        if pending_new and kind not in ("period_end", "other"):
            poss_id += 1
            # a defensive rebound transferred the pending offense to the
            # rebounder's team; otherwise the acting team opens
            offense = pending_offense if pending_offense is not None else team
            pending_new = False
            pending_offense = None

        end = False
        if kind in _CLOSING:
            end = offense is not None
            pending_new = True
        elif kind == "defensive_rebound":
            # ends the current possession; rebounder's team gets the ball
            end = offense is not None
            pending_new = True
            pending_offense = team
        elif kind == "period_end":
            end = offense is not None
            pending_new = True
        out.append((poss_id, offense, end))
    return out


def scan_order(play):
    """Spark's order for (period asc, clock desc, play_id asc): ascending
    puts nulls first."""
    _game, period, clock, play_id, _team, _kind = play
    return (period is not None, period or 0, -clock, play_id)


# A game is a list of period blocks: (period, only_other, plays). Period
# values repeat across blocks, so blocks can merge; a block flagged
# only_other becomes a period of nothing but ``other`` plays. Clocks come
# from a handful of values, so ties are common and play_id breaks them.
play_st = st.tuples(
    st.integers(0, 4), st.sampled_from([10, 20, None]), st.sampled_from(KINDS)
)
block_st = st.tuples(
    st.sampled_from([None, 1, 2, 3]), st.booleans(), st.lists(play_st, max_size=8)
)
games_st = st.lists(st.lists(block_st, min_size=1, max_size=4), min_size=1, max_size=6)

#: every case the scan must get right, in one deterministic example
EDGE_GAMES = [
    [  # consecutive defensive rebounds; a mid-period period_end after one
        (1, False, [
            (4, 10, "missed_shot"), (3, 20, "defensive_rebound"),
            (3, 10, "defensive_rebound"), (2, 20, "period_end"),
            (1, 20, "made_shot"), (0, None, "period_end"),
        ]),
        (2, True, [(4, 10, "other"), (2, 20, "other")]),  # only `other`
        (3, False, [  # clock tie; the period ends on a defensive rebound
            (4, None, "missed_shot"), (4, 20, "made_shot"),
            (1, 20, "missed_shot"), (0, 10, "defensive_rebound"),
        ]),
        (4, False, [(4, 20, "missed_shot")]),  # no offense carried over
    ],
    [  # null kind, period and team; null-period plays end on a non-closer
        (None, False, [
            (4, 10, None), (3, None, "defensive_rebound"), (2, 10, "missed_shot"),
        ]),
        (1, False, [
            (4, None, "missed_shot"), (3, 10, "missed_shot"),
            (2, None, "defensive_rebound"), (1, 20, "made_ft"),
        ]),
    ],
]


def _flatten(games):
    rows = []
    for g, blocks in enumerate(games):
        for period, only_other, plays in blocks:
            for clock, team, kind in plays:
                i = len(rows)
                # ids scrambled against generation order, so clock ties are
                # broken by play_id rather than by insertion order
                rows.append((g, period, float(clock), (i * 37) % 1009, team,
                             "other" if only_other else kind))
    return rows


@given(games=games_st)
@example(games=EDGE_GAMES)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)
def test_window_scan_matches_replay(spark, games):
    from hoops_edge_database_etl_spark.operators.sessionize import possession_sessionize

    rows = _flatten(games)
    want = {}
    for g in range(len(games)):
        plays = sorted((r for r in rows if r[0] == g), key=scan_order)
        for r, out in zip(plays, replay([(r[1], r[4], r[5]) for r in plays])):
            want[r[3]] = out
    got = {
        r["play_id"]: (r["possession_id"], r["offense_team_id"], r["possession_end"])
        for r in possession_sessionize(spark.createDataFrame(rows, SCHEMA)).collect()
    }
    assert got == want


def test_edge_games_cover_the_cases():
    """The fixed example really holds each case it is there for."""
    rows = _flatten(EDGE_GAMES)
    kinds = [r[5] for r in sorted(rows, key=lambda r: (r[0], scan_order(r)))]
    assert ("defensive_rebound", "defensive_rebound") in zip(kinds, kinds[1:])
    assert any(r[5] == "period_end" and r[2] > 0 for r in rows)
    assert any(r[4] is None and r[5] == "defensive_rebound" for r in rows)
    assert any(r[1] is None for r in rows) and None in kinds
    assert {r[5] for r in rows if r[1] == 2} == {"other"}
    clocks = [(r[0], r[1], r[2]) for r in rows]
    assert len(set(clocks)) < len(clocks)
