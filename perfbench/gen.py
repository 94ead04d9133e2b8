"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy/PyArrow so inputs are built before any
SparkSession exists and never count toward set-up time. The same seed always
produces byte-identical files.

* :func:`write_season` — a synthetic college-basketball season as per-day raw
  NDJSON play files (API-shaped: aliased keys, numbers as strings, exact
  duplicate records), a late batch of corrections and duplicates, and a games
  file carrying the book spread per game.
* :func:`write_tables` — the registry tables that the ``fixpoint_queries``
  list reads (only ``orders``), with the column names and parquet types the
  query registry expects.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEASON_START = dt.date(2024, 11, 4)
#: table scale of the query workload (1.0 = 1.5M orders rows, as TPC-H sf1)
TABLE_SCALE = 0.1


# ---------------------------------------------------------------------------
# Season (etl_season)
# ---------------------------------------------------------------------------


def _schedule(rng, n_teams: int, n_days: int, play_prob: float):
    """(game_id, date, home, away) rows: each day the same number of randomly
    chosen teams is paired off, so every seed gives the same game count and
    every team plays about ``play_prob`` of the days."""
    per_day = max(int(n_teams * play_prob) // 2, 1)
    games = []
    for d in range(n_days):
        playing = rng.permutation(n_teams)[: 2 * per_day]
        for i in range(0, len(playing), 2):
            games.append((len(games) + 1, SEASON_START + dt.timedelta(days=d),
                          int(playing[i]) + 1, int(playing[i + 1]) + 1))
    return games


def _game_plays(rng, home, away, strength, n_poss):
    """One game's plays in order: possessions alternate unless a defensive
    rebound or turnover flips them; make probability follows the offense's
    strength minus the defense's. Returns (rows, home_pts, away_pts)."""
    rows = []
    score = {home: 0, away: 0}
    for period in (1, 2):
        offense = home if period == 1 else away
        for p in range(n_poss):
            clock = round(1200.0 - (p + 1) * (1190.0 / (n_poss + 1)), 1)
            defense = away if offense == home else home
            make = 0.47 + 0.01 * (strength[offense] - strength[defense])
            while True:
                r = rng.random()
                if r < 0.12:
                    rows.append((period, clock, offense, "Bad Pass Turnover.", 0))
                    nxt = defense
                    break
                if r < 0.20:
                    # two free throws; the second one ends the possession
                    for k in (1, 2):
                        made = rng.random() < 0.72
                        score[offense] += int(made)
                        rows.append((period, clock, offense,
                                     f"{'made' if made else 'missed'} Free Throw {k} of 2.",
                                     int(made)))
                    nxt = defense
                    break
                three = rng.random() < 0.35
                pts = 3 if three else 2
                kind = "Three Point Jumper" if three else ("Layup" if rng.random() < 0.5 else "Jumper")
                if rng.random() < make - (0.12 if three else 0.0):
                    score[offense] += pts
                    rows.append((period, clock, offense, f"made {kind}.", pts))
                    nxt = defense
                    break
                rows.append((period, clock, offense, f"missed {kind}.", 0))
                if rng.random() < 0.7:
                    rows.append((period, clock, defense, "Defensive Rebound.", 0))
                    nxt = defense
                    break
                rows.append((period, clock, offense, "Offensive Rebound.", 0))
            offense = nxt
        rows.append((period, 0.0, None, f"End of {period}{'st' if period == 1 else 'nd'} Half", 0))
    return rows, score[home], score[away]


def write_season(
    out_dir: str,
    seed: int,
    n_teams: int = 12,
    n_days: int = 14,
    play_prob: float = 0.5,
    n_poss: int = 34,
    dup_rate: float = 0.02,
    late_rate: float = 0.05,
) -> dict:
    """Write ``raw/plays/<date>.ndjson``, ``raw/late/late.ndjson`` and
    ``raw/games.ndjson`` under ``out_dir``; return counts and byte sizes."""
    rng = np.random.default_rng(seed)
    strength = {t + 1: float(s) for t, s in enumerate(rng.normal(0.0, 4.0, n_teams))}
    games = _schedule(rng, n_teams, n_days, play_prob)
    plays_dir = os.path.join(out_dir, "raw", "plays")
    late_dir = os.path.join(out_dir, "raw", "late")
    os.makedirs(plays_dir, exist_ok=True)
    os.makedirs(late_dir, exist_ok=True)

    by_day: dict[dt.date, list[str]] = {}
    game_lines, late_lines = [], []
    n_plays = n_raw = 0
    for game_id, day, home, away in games:
        n = n_poss + int(rng.integers(-3, 4))
        rows, hp, ap = _game_plays(rng, home, away, strength, n)
        expected = (strength[home] - strength[away]) * 2.0 + 3.0
        spread = -round((expected + rng.normal(0.0, 3.0)) * 2) / 2
        game_lines.append(json.dumps({
            "game_id": game_id, "game_date": day.isoformat(), "home_team_id": home,
            "away_team_id": away, "book_spread": spread,
        }))
        running = {home: 0, away: 0}
        out = by_day.setdefault(day, [])
        for seq, (period, clock, team, text, pts) in enumerate(rows):
            play_id = game_id * 1000 + seq
            if team is not None:
                running[team] += pts
            # API drift: id/playId aliases, clock as number or string
            rec = {
                ("playId" if rng.random() < 0.1 else "id"): str(play_id),
                "gameId": str(game_id),
                "gameDate": day.isoformat(),
                "period": str(period),
                "secondsRemaining": f"{clock:.2f}" if rng.random() < 0.5 else f"{clock:.1f}",
                "teamId": None if team is None else str(team),
                "isHome": None if team is None else ("true" if team == home else "false"),
                "playText": text,
                "scoreValue": str(pts),
                "homeScore": str(running[home]),
                "awayScore": str(running[away]),
            }
            line = json.dumps(rec)
            out.append(line)
            n_plays += 1
            n_raw += 1
            if rng.random() < dup_rate:
                out.append(line)
                n_raw += 1
            if rng.random() < late_rate:
                late = {
                    "play_id": play_id, "game_id": game_id, "game_date": day.isoformat(),
                    "period": period, "seconds_remaining": clock, "team_id": team,
                    "is_home": None if team is None else team == home,
                    "play_text": text.upper(), "score_value": float(pts),
                    "home_score": float(running[home]), "away_score": float(running[away]),
                    "version": int(rng.integers(1, 4)),
                }
                late_lines.append(json.dumps(late))
                if rng.random() < 0.2:  # a duplicate delivery of the correction
                    late_lines.append(json.dumps(late))

    raw_bytes = 0
    for day, lines in sorted(by_day.items()):
        path = os.path.join(plays_dir, f"{day.isoformat()}.ndjson")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        raw_bytes += os.path.getsize(path)
    with open(os.path.join(late_dir, "late.ndjson"), "w") as fh:
        fh.write("\n".join(late_lines) + "\n")
    with open(os.path.join(out_dir, "raw", "games.ndjson"), "w") as fh:
        fh.write("\n".join(game_lines) + "\n")
    return {
        "teams": n_teams, "days": len(by_day), "games": len(games), "plays": n_plays,
        "raw_records": n_raw, "late_records": len(late_lines), "raw_bytes": raw_bytes,
        "first_day": SEASON_START.isoformat(),
    }


# ---------------------------------------------------------------------------
# Registry tables (fixpoint_queries)
# ---------------------------------------------------------------------------

_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    us = np.datetime64(lo, "us") + (
        rng.integers(0, (hi - lo).days, n) * 86_400_000_000
    ).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict:
    """Write ``orders.parquet`` at ``scale`` (1.0 = 1.5M rows) and return its
    row count. The fixpoint queries build their graphs from it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    table = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2)),
        "o_orderpriority": [_PRIORITY[i] for i in rng.integers(0, 5, n_ord)],
    })
    pq.write_table(table, os.path.join(out_dir, "orders.parquet"), compression="snappy")
    return {"orders": n_ord}
