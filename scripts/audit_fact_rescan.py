"""Static plan audit for REPEATED FACT SCANS (round 11 — the q422 class).

When several scalar/branch consumers derive from one shared rollup and
nothing materializes it, Spark re-executes the rollup — and the FACT
SCAN underneath it — once per consumer. At 100 TB the fact scan IS the
linear cost, so paying it k times multiplies the whole job by k. Three
queries have been fixed this way so far, each hash-certified against an
unchanged oracle:
  - q408 (r10): five scalar branches over the per-part rollup —
    localCheckpoint, lineitem scanned once instead of 5x;
  - q166 (r11): three distributed_ntile passes x2 branch reads over the
    per-user RFM rollup;
  - q422 (r11): both Walsh-join legs over the distinct-value histogram.

Detection is structural (plan-only): count ``FileScan parquet`` heads
per source file in every executed plan. A count >= THRESHOLD on a FACT
table (events / lineitem / documents / embeddings / orders) flags the
query for triage. Not every flag is a defect:
  - legitimate: each scan reads a DIFFERENT column subset (column
    pruning beats materializing a wide intermediate), or the scans feed
    genuinely different pre-aggregation shapes;
  - the q422 class: the scans feed the SAME aggregate, re-executed per
    consumer — fix with localCheckpoint(eager=False) on the rollup.

MEASUREMENT CAVEAT (r11 A/B): the printed pre-execution plan counts are
an UPPER BOUND on real scans — AQE's runtime exchange reuse
(spark.sql.exchange.reuse) dedupes byte-identical exchange subtrees, so
a same-session A/B (localCheckpoint monkeypatched to identity, 2 reps
alternating, sf0.1 AND sf1) measured the r11 checkpoint conversions as
wall-NEUTRAL on every suspect (q391 10.7 vs 12.9 s at sf1 was the
largest delta, favoring the checkpoint). The conversions stand anyway:
exchange reuse requires IDENTICAL subtrees and silently stops applying
when any consumer's projection diverges, while the checkpoint makes
single-execution a structural guarantee — at neutral measured cost.
The one unambiguous catch stands on its own: q451's temp-view
re-expansion (26 scan heads) contradicted its one-scan docstring claim.
tests/test_fact_rescan_audit.py holds the flag set to an allowlist with
a per-entry reason, so any NEW multi-scan query fails until adjudicated.

Usage:
  python scripts/audit_registry.py SF_DIR                      # sweep (shared)
  python scripts/audit_fact_rescan.py --ab q1,q2 [sf_dir] [reps]  # A/B

--ab is the adjudication mode the r11 conversions used: time each named
query with the current code vs with ``DataFrame.localCheckpoint``
monkeypatched to identity (the pre-conversion plan), alternating
A,B,A,B in ONE session so session temperature cancels; report min wall
per variant. This is the controlled comparison — cross-session soak
rows drift ±20-45% (see README's bench-drift section).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: tables whose scan is corpus-proportional at the target scale — a dim
#: table (region/nation/...) scanned k times is noise, a fact table is k
#: full passes over the corpus
FACT_TABLES = ("events", "lineitem", "documents", "embeddings", "orders")

#: two scans of a fact table is often the cheapest correct plan (e.g. a
#: self-join's two pruned legs); three or more is where the shared-rollup
#: pattern has always been hiding
THRESHOLD = 3

_SCAN_RE = re.compile(r"FileScan parquet .*?file:([^\],]+\.parquet)")


def fact_scan_counts(plan: str) -> dict[str, int]:
    """{table: scan_count} for fact tables appearing in the plan.

    Counts FileScan heads per parquet path. InMemoryFileIndex paths are
    the ground truth — ReusedExchange / cached subtrees do NOT re-list a
    FileScan head, so reuse Spark already performs is not counted.
    """
    counts: Counter[str] = Counter()
    for m in _SCAN_RE.finditer(plan):
        table = os.path.splitext(os.path.basename(m.group(1)))[0]
        if table in FACT_TABLES:
            counts[table] += 1
    return dict(counts)


def flags_for(plan: str) -> dict[str, int]:
    return {t: c for t, c in fact_scan_counts(plan).items() if c >= THRESHOLD}


def ab_mode(names: list[str], sf_dir: str, reps: int) -> None:
    import time

    from pyspark.sql import DataFrame

    from hoops_edge_database_etl_spark.queries import all_queries
    from hoops_edge_database_etl_spark.session import get_spark

    spark = get_spark(app_name="fact-rescan-ab")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    orig_lc = DataFrame.localCheckpoint

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in names:
        # try/finally (r11 ADVICE): the monkeypatch is process-wide — an
        # exception mid-rep must not leave the identity patch installed
        # (it would silently disable every checkpoint for later work).
        try:
            run(name)  # warm
            with_ckpt, without = [], []
            for _ in range(reps):
                DataFrame.localCheckpoint = orig_lc
                with_ckpt.append(run(name))
                DataFrame.localCheckpoint = lambda self, eager=True: self
                without.append(run(name))
        finally:
            DataFrame.localCheckpoint = orig_lc
        print(
            json.dumps(
                {
                    name: {
                        "ckpt_min": round(min(with_ckpt), 3),
                        "nockpt_min": round(min(without), 3),
                        "ckpt": [round(x, 3) for x in with_ckpt],
                        "nockpt": [round(x, 3) for x in without],
                    }
                }
            ),
            flush=True,
        )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--ab":
        names = sys.argv[2].split(",")
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 2
        ab_mode(names, sf_dir, reps)
        return
    sys.exit(__doc__)


if __name__ == "__main__":
    main()
