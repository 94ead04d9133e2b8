"""q457–q460: oracle parity plus independent Python recomputes — BM25
from the textbook formula, Heaps curve from a streaming set, Spearman /
Kruskal-Wallis from first-principles midranks (never the query's own
algebra)."""

from __future__ import annotations

from collections import Counter

from tests.conftest import SF_DIR, compare_query


def test_oracle_parity(spark, duck):
    for q in (
        "q457_bm25_topk",
        "q458_vocab_growth",
        "q459_spearman_rank_corr",
        "q460_kruskal_wallis",
    ):
        compare_query(spark, duck, q)


def test_q459_rangecum_branch_parity(spark, duck, monkeypatch):
    """r13: q459 is scale-adaptive — the plan-statistics switch picks the
    per-flag window branch at gate SFs and the bucketed two-pass cumsum
    branch past ~16 MB of pruned fact scan. The oracle gate therefore only
    ever exercises the window branch; THIS test forces the cumsum branch
    (threshold 0) and pins it against the same DuckDB oracle at sf0.01.
    Both branches sum identical exact integers in DECIMAL(38,0), so the
    comparison is exact, not approximate."""
    from hoops_edge_database_etl_spark.queries import aggregates

    monkeypatch.setattr(aggregates, "Q459_WINDOW_MAX_BYTES", 0)
    compare_query(spark, duck, "q459_spearman_rank_corr")


def _docs(duck):
    return duck.execute(
        "SELECT doc_id, string_split(text, ' ') FROM documents ORDER BY doc_id"
    ).fetchall()


def test_q457_bm25_textbook_recompute(spark):
    from hoops_edge_database_etl_spark.queries import all_queries
    import duckdb

    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    docs = _docs(duck)
    n = len(docs)
    dls = {d: len(ws) for d, ws in docs}
    avgdl = sum(dls.values()) / n
    terms = ["dup", "spark", "merge"]
    df = {t: sum(1 for _, ws in docs if t in ws) for t in terms}
    k1, b = 1.2, 0.75

    def bm25(ws):
        s = 0.0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)  # odds form, no ln
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
        return s

    expect = sorted(
        ((bm25(ws), d) for d, ws in docs if bm25(ws) > 0),
        key=lambda p: (-p[0], p[1]),
    )[:10]
    rows = all_queries()["q457_bm25_topk"](spark, SF_DIR).collect()
    assert [r["doc_id"] for r in rows] == [d for _, d in expect]
    for r, (s, _) in zip(rows, expect):
        assert abs(r["score"] - s) < 1e-9


def test_q458_streaming_set_recompute(spark, duck):
    from hoops_edge_database_etl_spark.queries import all_queries

    docs = _docs(duck)
    rows = {
        r["doc_id"]: r
        for r in all_queries()["q458_vocab_growth"](spark, SF_DIR).collect()
    }
    seen: set[str] = set()
    toks = 0
    for d, ws in docs:
        before = len(seen)
        seen.update(ws)
        toks += len(ws)
        r = rows[d]
        assert (r["tokens_cum"], r["vocab_cum"]) == (toks, len(seen))
        assert r["new_terms"] == len(seen) - before
    assert rows[docs[-1][0]]["vocab_cum"] == 31  # the corpus' full vocab


def _midranks(vals):
    cnt = Counter(vals)
    below, mid = 0, {}
    for v in sorted(cnt):
        mid[v] = below + (cnt[v] + 1) / 2
        below += cnt[v]
    return [mid[v] for v in vals]


def test_q459_spearman_recompute(spark, duck):
    from hoops_edge_database_etl_spark.queries import all_queries

    rows = all_queries()["q459_spearman_rank_corr"](spark, SF_DIR).collect()
    for r in rows:
        xs, ys = zip(
            *duck.execute(
                "SELECT l_quantity, l_extendedprice FROM lineitem "
                "WHERE l_returnflag = ?",
                [r["l_returnflag"]],
            ).fetchall()
        )
        rx, ry = _midranks(xs), _midranks(ys)
        n = len(rx)
        sx, sy = sum(rx), sum(ry)
        num = n * sum(a * b for a, b in zip(rx, ry)) - sx * sy
        den = (
            (n * sum(a * a for a in rx) - sx * sx)
            * (n * sum(a * a for a in ry) - sy * sy)
        ) ** 0.5
        assert abs(r["spearman_rho"] - num / den) < 1e-9
        # this generator draws quantity and price independently — the
        # calibrated verdict on the fixture is "no monotone association"
        assert abs(r["spearman_rho"]) < 0.05


def test_q460_kruskal_recompute(spark, duck):
    from hoops_edge_database_etl_spark.queries import all_queries

    r = all_queries()["q460_kruskal_wallis"](spark, SF_DIR).collect()[0]
    pairs = duck.execute(
        "SELECT o.o_orderpriority, l.l_quantity FROM lineitem l "
        "JOIN orders o ON o.o_orderkey = l.l_orderkey"
    ).fetchall()
    vals = [v for _, v in pairs]
    ranks = _midranks(vals)
    n = len(vals)
    by_grp: dict[str, list[float]] = {}
    for (g, _), rk in zip(pairs, ranks):
        by_grp.setdefault(g, []).append(rk)
    h = 12 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in by_grp.values()
    ) - 3 * (n + 1)
    tie = 1 - sum(t**3 - t for t in Counter(vals).values()) / (n**3 - n)
    assert r["n"] == n
    assert abs(r["h"] - h) < 1e-6
    assert abs(r["tie_c"] - tie) < 1e-12
    assert abs(r["h_adj"] - h / tie) < 1e-6
    assert 0 < r["tie_c"] <= 1
