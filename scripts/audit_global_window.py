"""Static plan audit for GLOBAL (single-partition) windows (round 10).

A Window with no PARTITION BY plans as ``Window ← Sort ← Exchange
SinglePartition``: every input row funnels through ONE reducer. That is
exactly right when the input is BOUNDED — a value-domain histogram (the
q306 cent-grid family), a top-k slice, a fixed scheme spine — and a
100 TB stall/OOM when the input is corpus-proportional (every fact row
through one core). The hazard is invisible to the sf-slope soak: a
single-partition window is O(n log n) on one core, so its slope looks
linear while the at-scale form is a wall.

Detection is structural (plan-only): find every ``Exchange
SinglePartition`` whose nearest non-Sort/non-Project ANCESTOR is a
Window. Adjudication is empirical: ``--measure`` re-runs each flagged
query at two SFs with ``collect()`` and reads the exchange's
``shuffleRecordsWritten`` metric at both, so "bounded" is a measured
growth factor, not a guess. tests/test_global_window_audit.py holds the
flag set to an allowlist with a measured reason per entry.

Usage:
  python scripts/audit_registry.py SF_DIR                   # detect (shared sweep)
  python scripts/audit_global_window.py --measure [sf_a sf_b]  # adjudicate
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: ancestors the exchange's rows pass through unchanged (row-count-wise)
#: on their way to the window
_TRANSPARENT = ("Sort", "Project")


def _depth(s: str) -> int:
    return len(s) - len(s.lstrip(" :+-"))


def global_window_heads(plan: str) -> list[str]:
    """Window heads fed by an Exchange SinglePartition (possibly through
    Sort/Project), normalized for stable comparison."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _depth(ln)
        j = i - 1
        while j >= 0:
            if not lines[j].strip():
                j -= 1
                continue
            dj = _depth(lines[j])
            if dj < d:
                s = lines[j]
                if "Window" in s:
                    hits.append(re.sub(r"#\d+L?", "#", s.strip())[:100])
                    break
                if any(t in s for t in _TRANSPARENT):
                    d = dj
                    j -= 1
                    continue
                break
            j -= 1
    return hits


def _walk(p, path=()):
    cls = p.getClass().getSimpleName()
    yield p, path
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(p.executedPlan(), path + (cls,))
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(p.plan(), path + (cls,))
        return
    ch = p.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), path + (cls,))


def single_partition_records(df) -> list[int]:
    """shuffleRecordsWritten of every SinglePartition exchange that feeds
    a Window in df's EXECUTED plan (collect() first so metrics exist)."""
    df.collect()
    out = []
    for n, path in _walk(df._jdf.queryExecution().executedPlan()):
        if "ShuffleExchange" not in n.getClass().getSimpleName():
            continue
        if "SinglePartition" not in n.toString().splitlines()[0]:
            continue
        anc = [
            a
            for a in reversed(path)
            if not any(t in a for t in _TRANSPARENT)
            and not a.endswith("QueryStageExec")
            and a
            not in ("AdaptiveSparkPlanExec", "InputAdapter", "WholeStageCodegenExec")
        ]
        if not anc or "Window" not in anc[0]:
            continue
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if str(kv._1()) == "shuffleRecordsWritten":
                out.append(int(kv._2().value()))
    return out


def main() -> None:
    if "--measure" not in sys.argv:
        sys.exit(__doc__)
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.session import get_spark

    with get_spark(app_name="audit-global-window") as spark:
        queries = all_queries()
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        sf_a = args[0] if args else "/root/testdata/sf0.001"
        sf_b = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
        results = {}
        for name, fn in sorted(queries.items()):
            try:
                heads = global_window_heads(
                    fn(spark, sf_b)._jdf.queryExecution().executedPlan().toString()
                )
                if not heads:
                    continue
                ra = single_partition_records(fn(spark, sf_a))
                rb = single_partition_records(fn(spark, sf_b))
                growth = [
                    round(b / a, 2) if a else None for a, b in zip(ra, rb)
                ]
                results[name] = {"rows_small": ra, "rows_big": rb, "growth": growth}
                print(json.dumps({name: results[name]}), flush=True)
            except Exception as exc:  # pragma: no cover
                results[name] = {"error": str(exc)[:200]}
                print(json.dumps({name: results[name]}), flush=True)
        os.makedirs(".scratch", exist_ok=True)
        with open(".scratch/global_window_measure.json", "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
