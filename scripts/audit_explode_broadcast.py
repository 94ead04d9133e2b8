"""Static plan audit for the live-bug-#9 signature (round 9): a
BroadcastExchange whose BUILD subtree contains a Generate (explode).

Why this is a hazard class, not a style nit: Catalyst sizes a scan by
FILE bytes and a Generate does not inflate the estimate, so an exploded
side whose true row count is 100-1000x the file's sneaks under
autoBroadcastJoinThreshold. Two failure modes follow at scale: the
broadcast build itself blows past the 8 GB limit / driver memory, and
the probe side — often a single-file scan — keeps its 1-partition
layout, serializing the join's entire fan-out onto one core (q165:
a (0+1)/1 stage pinned >12 min at sf1).

Not every flag is a bug: a broadcast of an explode over a BOUNDED set
(a literal array, a dims table, a capped eval set) is exactly right.
The sweep prints every (query, broadcast-subtree head) pair so the
adjudication is explicit; tests/test_explode_broadcast_audit.py holds
the flag set to an allowlist with a reason per entry.

Run: python scripts/audit_registry.py SF_DIR (the shared registry sweep)
"""

from __future__ import annotations

import re


def _subtree(lines: list[str], start: int) -> list[str]:
    """Lines belonging to the operator at ``start`` (deeper indent)."""
    def depth(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    d0 = depth(lines[start])
    out = [lines[start]]
    for ln in lines[start + 1:]:
        if ln.strip() and depth(ln) <= d0:
            break
        out.append(ln)
    return out


#: operators that BOUND the row count between an explode and the
#: broadcast: an aggregate collapses to group cardinality, a limit to N.
#: With one of these in between, the broadcast build is not the raw
#: fan-out and the #9 signature does not apply.
_BOUNDING = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
             "TakeOrderedAndProject", "CollectLimit", "GlobalLimit",
             "LocalLimit")


def _depth(s: str) -> int:
    return len(s) - len(s.lstrip(" :+-"))


def _raw_generate(lines: list[str], i: int, end: int) -> str | None:
    """First Generate in the subtree rooted at ``lines[i]`` (body in
    ``(i, end)``) that has NO bounding operator as an ANCESTOR on its
    own path. Per-branch recursion (round 10, ADVICE): the old flat
    scan broke at the first bounding op ANYWHERE in the subtree, so a
    broadcast over join(aggregated-branch, raw-explode-branch) was
    silently missed — the aggregate in one branch shielded the Generate
    in its sibling."""
    node = lines[i]
    if any(b in node for b in _BOUNDING):
        return None  # bounds every descendant on this path
    if "Generate" in node:
        return node
    body = [k for k in range(i + 1, end) if lines[k].strip()]
    if not body:
        return None
    child_depth = min(_depth(lines[k]) for k in body)
    children = [k for k in body if _depth(lines[k]) == child_depth]
    for a, b in zip(children, children[1:] + [end]):
        hit = _raw_generate(lines, a, b)
        if hit is not None:
            return hit
    return None


def flags_in_plan(plan: str) -> list[str]:
    """Heads of BroadcastExchange subtrees whose build side contains a
    Generate with NO aggregate/limit on the exchange→explode PATH —
    i.e. the raw exploded fan-out itself is broadcast."""
    lines = plan.splitlines()
    hits = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d0 = _depth(ln)
        end = i + 1
        while end < len(lines) and (
            not lines[end].strip() or _depth(lines[end]) > d0
        ):
            end += 1
        hit = _raw_generate(lines, i, end)
        if hit is not None:
            hits.append(re.sub(r"#\d+L?", "#", hit.strip())[:120])
    return hits

