"""Static plan audit for the q482/q287 hazard class: a BroadcastHashJoin
(or BroadcastNestedLoopJoin) whose STREAM side is fed by an aggregate
with no explicit re-spread in between. Such a stream side inherits the
agg's AQE-coalesced partition count (tiny aggs coalesce to 1-2
partitions), so a large join fan-out and everything computed on it runs
on 1-2 cores regardless of cluster size — q482 (round 7, caught at sf1)
and q287 (round 8, 46 s -> 5.4 s at sf0.1) were both exactly this.

Heuristic over executed-plan strings (indentation = tree depth): flag
when the streamed child subtree contains HashAggregate/
ObjectHashAggregate before any REPARTITION exchange. False positives
are expected (a small join OUTPUT is harmless); every flag needs a
manual look at the fan-out size. Known false-positive class: under AQE
the explicit re-spread can print as ShuffleQueryStage/AQEShuffleRead
without the REPARTITION tag, so the FIXED q287 still flags — the strict
pattern is kept because ENSURE_REQUIREMENTS exchanges (which AQE may
coalesce right back to 1-2 partitions) must NOT count as a re-spread.

Round-8 sweep: 14/485 flagged; q287 was the (already-fixed) true
positive, headline flags were already slope-verified by SOAK_r06, and
the 6 never-soaked flags measured benign at sf1 (slopes 1.06-2.09,
fan-outs calendar/grid-bounded — rows + notes in SOAK_r08.json). Run:

    python scripts/audit_registry.py SF_DIR   # the shared registry sweep
"""

from __future__ import annotations

import re

AGG = re.compile(r"\b(ObjectHashAggregate|HashAggregate|SortAggregate)\b")
RESPREAD = re.compile(r"REPARTITION(_BY_NUM|_BY_COL)?")


def node_depth(line: str) -> int:
    # tree-drawing prefix length before the operator name
    m = re.match(r"^[\s:+-]*", line)
    return len(m.group(0))


def subtree(lines: list[str], idx: int) -> list[str]:
    d = node_depth(lines[idx])
    out = [lines[idx]]
    for ln in lines[idx + 1 :]:
        if ln.strip() and node_depth(ln) <= d:
            break
        out.append(ln)
    return out


def children(lines: list[str], idx: int) -> list[int]:
    d = node_depth(lines[idx])
    kids = []
    j = idx + 1
    while j < len(lines):
        dj = node_depth(lines[j])
        if lines[j].strip() and dj <= d:
            break
        # a direct child is the shallowest node inside the subtree
        if lines[j].strip() and (not kids or dj <= node_depth(lines[kids[-1]])):
            if not kids or dj == node_depth(lines[kids[0]]):
                kids.append(j)
        j += 1
    return kids


GROUPED_AGG = re.compile(
    r"\b(?:ObjectHashAggregate|HashAggregate|SortAggregate)\(keys=\[[^\]]"
)


def audit_plan(plan: str) -> list[str]:
    """Flag only the measured hazard signature, not every agg-fed join:
    the streamed side must carry a GROUPED aggregate (keys=[...]; a
    scalar agg is one row — harmless), with no re-spread before it, AND
    a fan-out signal — a non-equi BNLJ whose build side is itself
    non-scalar, or a Generate (explode) between the join and the agg
    (q287's band explode). Scalar-broadcast cross joins (the dominant
    benign pattern, 1-row build sides) are skipped."""
    lines = plan.splitlines()
    flags = []
    for i, ln in enumerate(lines):
        is_bnlj = "BroadcastNestedLoopJoin" in ln
        if "BroadcastHashJoin" not in ln and not is_bnlj:
            continue
        kids = children(lines, i)
        if len(kids) < 2:
            continue
        subs = ["\n".join(subtree(lines, k)) for k in kids]
        build = next(
            (
                s
                for s in subs
                if s.lstrip().startswith(("BroadcastExchange", "BroadcastQueryStage"))
            ),
            None,
        )
        if build is not None and is_bnlj:
            # 1-row scalar broadcast (agg with keys=[]) => benign
            if re.search(r"Aggregate\(keys=\[\]", build) or "keys=[]" in build:
                continue
        for s in subs:
            if s is build:
                continue
            m = GROUPED_AGG.search(s)
            if not m:
                continue
            before = s[: m.start()]
            if RESPREAD.search(before):
                continue
            fanout = "Generate explode" in before or (
                is_bnlj and build is not None
            )
            if not fanout:
                continue
            flags.append(lines[i].strip()[:90] + " <= grouped stream agg + fan-out, no re-spread")
    return flags

