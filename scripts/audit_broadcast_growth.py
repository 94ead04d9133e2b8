"""Broadcast-growth audit (round 12): explicit broadcasts whose build
side grows with the corpus.

An EXPLICIT ``F.broadcast()`` hint overrides the engine's size logic:
AQE will demote an auto-chosen broadcast when the runtime size says so,
but a hinted one ships to every executor (and through the driver)
regardless. A hint on a BOUNDED side — a dim table, a scalar aggregate,
a fixed grid, a partition-count spine — is free documentation; a hint
on an ENTITY- or FACT-proportional side is a driver/executor OOM at
100 TB that no local SF can reveal: at sf0.1 a per-user aggregate is a
few thousand rows and the broadcast is the fastest plan, at catalog
scale it is gigabytes. The sf-slope soak cannot flag it (the broadcast
cost is a small additive term locally) and the explode/stream-side/
global-window sweeps look for different signatures entirely.

Detection is structural: plan every query with
``spark.sql.autoBroadcastJoinThreshold=-1`` and AQE OFF, so the ONLY
``BroadcastExchange`` nodes left are the ones our code forces — the
explicit hints, plus the BNLJ sides the planner must broadcast for
non-equi joins (recorded with their parent join type so adjudication
can tell them apart). Adjudication is empirical: ``--measure`` runs
each flagged query at two SFs and reads every BroadcastExchange's
``numOutputRows``/``dataSize`` metrics at both; growth ~1 is bounded,
saturating growth is a value-domain spine, growth ~ the data ratio is
the hazard. tests/test_broadcast_growth_audit.py pins the per-query
flag set to an adjudicated allowlist with a measured reason per entry.

Usage:
  python scripts/audit_registry.py SF_DIR                        # detect (shared sweep)
  python scripts/audit_broadcast_growth.py --measure [sf_a sf_b] # adjudicate
  python scripts/audit_broadcast_growth.py --measure sf_a sf_b q42,q113  # subset
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from audit_global_window import _depth, _walk  # noqa: E402  (shared plan infra)

#: wrapper nodes that sit between a join and its broadcast child without
#: changing whose build side it is
_WRAPPERS = (
    "InputAdapter",
    "WholeStageCodegenExec",
    "AdaptiveSparkPlanExec",
    "BroadcastQueryStageExec",
    "ShuffleQueryStageExec",
    "ReusedExchangeExec",
)


def hinted_broadcast_conf(spark):
    """Flip the session so the ONLY surviving BroadcastExchange nodes are
    code-forced ones; returns the prior values for restore."""
    prior = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return prior


def restore_conf(spark, prior) -> None:
    for k, v in prior.items():
        spark.conf.set(k, v)


def broadcast_heads(plan: str) -> list[str]:
    """One normalized entry per BroadcastExchange in a plan STRING:
    ``<mode> <- <nearest join ancestor>``. Mode (IdentityBroadcastMode vs
    HashedRelationBroadcastMode) plus the ancestor join name separate
    hint-driven hash joins from planner-forced BNLJ sides."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        mode = "identity" if "IdentityBroadcastMode" in ln else "hashed"
        d = _depth(ln)
        join = "?"
        for j in range(i - 1, -1, -1):
            if not lines[j].strip():
                continue
            if _depth(lines[j]) < d:
                s = re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", lines[j])
                if "Join" in s or "Cartesian" in s:
                    join = re.sub(r"#\d+L?", "#", s.split("[")[0]).strip()[:60]
                    break
                d = _depth(lines[j])
        hits.append(f"{mode} <- {join}")
    return hits


def broadcast_metrics(df) -> list[dict]:
    """numOutputRows/dataSize of every BroadcastExchange in df's EXECUTED
    plan (collect() first so the metrics exist), in walk order, each
    tagged with its nearest join ancestor from the walk path."""
    df.collect()
    out = []
    for n, path in _walk(df._jdf.queryExecution().executedPlan()):
        if "BroadcastExchangeExec" != n.getClass().getSimpleName():
            continue
        anc = [a for a in reversed(path) if a not in _WRAPPERS]
        join = anc[0] if anc else "?"
        rec = {"join": join, "rows": None, "bytes": None}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = str(kv._1())
            if k == "numOutputRows":
                rec["rows"] = int(kv._2().value())
            elif k == "dataSize":
                rec["bytes"] = int(kv._2().value())
        out.append(rec)
    return out


def main() -> None:
    if "--measure" not in sys.argv:
        sys.exit(__doc__)
    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.session import get_spark

    with get_spark(app_name="audit-broadcast-growth") as spark:
        spark.sparkContext.setLogLevel("ERROR")
        prior = hinted_broadcast_conf(spark)
        queries = all_queries()
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        try:
            sf_a = args[0] if args else "/root/testdata/sf0.001"
            sf_b = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
            subset = tuple(args[2].split(",")) if len(args) > 2 else None
            results = {}
            for name, fn in sorted(queries.items()):
                if subset and not name.startswith(subset):
                    continue
                try:
                    ma = broadcast_metrics(fn(spark, sf_a))
                    if not ma:
                        continue
                    mb = broadcast_metrics(fn(spark, sf_b))
                    growth = [
                        round(b["rows"] / a["rows"], 2) if a["rows"] else None
                        for a, b in zip(ma, mb)
                    ]
                    results[name] = {
                        "joins": [m["join"] for m in mb],
                        "rows_small": [m["rows"] for m in ma],
                        "rows_big": [m["rows"] for m in mb],
                        "bytes_big": [m["bytes"] for m in mb],
                        "growth": growth,
                    }
                    print(json.dumps({name: results[name]}), flush=True)
                except Exception as exc:  # pragma: no cover
                    results[name] = {"error": str(exc)[:200]}
                    print(json.dumps({name: results[name]}), flush=True)
            os.makedirs(".scratch", exist_ok=True)
            with open(".scratch/broadcast_growth_measure.json", "w") as f:
                json.dump(results, f, indent=1)
        finally:
            restore_conf(spark, prior)


if __name__ == "__main__":
    main()
