"""One plan sweep over the whole query registry, shared by every
registry-wide audit.

Calling a query function is the expensive part of an audit: some run
their iterative loop on the driver just to return a frame. So each
registered function is called ONCE, under the session's own conf, and
its frame is planned three ways; the two audit plans come from
re-planning ``df.select("*")`` under a switched conf:
  - ``default``: the executed plan under the session's conf (AQE on) —
    the explode-broadcast, stream-side, fact-rescan, global-window and
    Python-in-plan audits;
  - ``aqe_off``: AQE off, so the static plan does not depend on which
    stages already ran — the cartesian-product audit;
  - ``forced_broadcast``: AQE off and autoBroadcastJoinThreshold=-1
    (``hinted_broadcast_conf``), so the only BroadcastExchange nodes
    left are code-forced ones — the forced-broadcast audit;
plus the output schema ``{column: simpleString}`` for the cross-engine
type audit. Only strings are kept: the frame is dropped, so its
localCheckpoint blocks can be freed. Plans are raw text, not
``plan_fp``-scrubbed, because the detectors parse codegen markers and
expression ids themselves.

tests/conftest.py serves the sweep as the session-scoped
``registry_plans`` fixture. Run as a script, it prints every
detector's flags as JSON (allowlists live in the audit tests):

    python scripts/audit_registry.py SF_DIR
"""

from __future__ import annotations

import json
import os
import sys
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_broadcast_growth import (  # noqa: E402
    broadcast_heads,
    hinted_broadcast_conf,
    restore_conf,
)
from audit_explode_broadcast import flags_in_plan  # noqa: E402
from audit_fact_rescan import flags_for  # noqa: E402
from audit_global_window import global_window_heads  # noqa: E402
from audit_stream_side import audit_plan  # noqa: E402


class RegistryPlan(NamedTuple):
    default: str
    aqe_off: str
    forced_broadcast: str
    schema: dict[str, str]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def registry_plans(spark, sf_dir: str) -> dict[str, RegistryPlan]:
    """{query: RegistryPlan} for every registered query, each query
    function called once; the session's conf is restored on exit."""
    from hoops_edge_database_etl_spark.queries import all_queries

    out = {}
    prior = hinted_broadcast_conf(spark)
    try:
        for name, fn in sorted(all_queries().items()):
            restore_conf(spark, prior)
            df = fn(spark, sf_dir)
            default = _plan(df)
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            aqe_off = _plan(df.select("*"))
            hinted_broadcast_conf(spark)
            out[name] = RegistryPlan(
                default,
                aqe_off,
                _plan(df.select("*")),
                {f.name: f.dataType.simpleString() for f in df.schema.fields},
            )
    finally:
        restore_conf(spark, prior)
    return out


def main() -> None:
    from hoops_edge_database_etl_spark.session import get_spark

    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spark = get_spark(app_name="audit-registry")
    spark.sparkContext.setLogLevel("ERROR")
    plans = registry_plans(spark, sys.argv[1])
    spark.stop()
    detectors = {
        "explode_broadcast": lambda p: flags_in_plan(p.default),
        "stream_side": lambda p: audit_plan(p.default),
        "fact_rescan": lambda p: flags_for(p.default),
        "global_window": lambda p: global_window_heads(p.default),
        "forced_broadcast": lambda p: broadcast_heads(p.forced_broadcast),
    }
    report = {
        det: {name: hits for name, p in plans.items() if (hits := flag(p))}
        for det, flag in detectors.items()
    }
    print(json.dumps(report, indent=1, sort_keys=True))
    for det, flagged in report.items():
        print(f"-- {det}: {len(flagged)} queries flagged", file=sys.stderr)


if __name__ == "__main__":
    main()
