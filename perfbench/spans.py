"""Spans around layer calls, and Spark's own counters for each span.

A span covers one call into a layer of the program (plus the action that
materializes its result). When tracing is on, each span runs its Spark jobs
under its own job group; at the end of the span the job ids of that group
are read from ``statusTracker()`` and each job's stages from
``statusStore().lastStageAttempt(id)``. Jobs belong to the innermost open
span. A layer's counters are inclusive of the spans nested inside it; its
``self_s`` is the span's duration minus the part its children cover.

With tracing off, :meth:`Tracer.span` yields a no-op span and touches
neither Spark nor the clock.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

LAYERS = (
    "streaming",
    "sources",
    "normalize",
    "operators.pbp",
    "operators.ratings",
    "plans",
    "queries",
)

#: counters every layer reports, in output order
COUNTERS = (
    "wall_s", "self_s", "build_s", "jobs", "stages", "tasks", "exec_run_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "output_mb", "spill_mb", "core_util",
    "driver_share",
)

#: counters summed from stage and job records
_SPARK_SUMS = ("jobs", "stages", "skipped_stages", "tasks", "exec_run_s", "gc_s",
               "shuffle_read_mb", "shuffle_write_mb", "output_mb", "spill_mb")

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    run_id: str
    name: str
    layer: str
    parent: int | None
    pass_no: int
    start: float
    end: float = 0.0
    action_at: float | None = None
    groups: list[str] = field(default_factory=list)
    #: counters of the jobs run directly under this span
    spark: dict = field(default_factory=dict)
    #: [submitted, completed] wall-clock seconds of those jobs
    job_intervals: list = field(default_factory=list)
    #: layer-specific values (batches, rows, files ...)
    attrs: dict = field(default_factory=dict)

    def mark_action(self) -> None:
        """Everything before this point is plan building (``build_s``)."""
        self.action_at = time.time()

    def add_group(self, group: str) -> None:
        """Also count the jobs of another job group, e.g. a streaming query's
        run id, under which Spark runs the micro-batches."""
        self.groups.append(group)

    def set(self, key: str, value) -> None:
        self.attrs[key] = value

    def to_json(self) -> dict:
        return {
            "id": self.id, "run_id": self.run_id, "name": self.name,
            "layer": self.layer, "parent": self.parent, "pass": self.pass_no,
            "start": self.start, "end": self.end, "action_at": self.action_at,
            "spark": self.spark, "job_intervals": self.job_intervals,
            "attrs": self.attrs,
        }


class _NullSpan:
    """Stand-in used when tracing is off."""

    def mark_action(self) -> None:
        pass

    def add_group(self, group: str) -> None:
        pass

    def set(self, key: str, value) -> None:
        pass


class Tracer:
    def __init__(self, spark_context=None, run_id: str = "run", enabled: bool = False):
        self.sc = spark_context
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_no = 0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield _NullSpan()
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), run_id=self.run_id, name=name, layer=layer,
            parent=parent.id if parent else None, pass_no=self.pass_no,
            start=time.time(),
        )
        sp.groups.append(f"{self.run_id}:{sp.id}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.groups[0], f"{layer} {name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.groups[0], f"{parent.layer} {parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect(sp)

    def _collect(self, sp: Span) -> None:
        """Read the span's jobs and their stages from Spark's status store."""
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        sums = dict.fromkeys(_SPARK_SUMS, 0.0)
        job_ids = sorted({j for g in sp.groups for j in tracker.getJobIdsForGroup(g)})
        for jid in job_ids:
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                done = comp.get().getTime() if comp.isDefined() else sp.end * 1000.0
                sp.job_intervals.append([sub.get().getTime() / 1000.0, done / 1000.0])
            sums["jobs"] += 1
            sums["skipped_stages"] += job.numSkippedStages()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    stage = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:
                    continue  # a skipped stage the store has already evicted
                if stage.status().toString() == "SKIPPED":
                    continue
                sums["stages"] += 1
                sums["tasks"] += stage.numTasks()
                sums["exec_run_s"] += stage.executorRunTime() / 1000.0
                sums["gc_s"] += stage.jvmGcTime() / 1000.0
                sums["shuffle_read_mb"] += stage.shuffleReadBytes() / _MB
                sums["shuffle_write_mb"] += stage.shuffleWriteBytes() / _MB
                sums["output_mb"] += stage.outputBytes() / _MB
                sums["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / _MB
        sp.spark = sums


# ---------------------------------------------------------------------------
# Arithmetic over recorded spans (no Spark needed; unit-tested)
# ---------------------------------------------------------------------------


def covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """Span duration minus the part of it that its child spans cover."""
    own = [(c.start, c.end) for c in kids.get(span.id, [])]
    return (span.end - span.start) - covered(own, span.start, span.end)


def _subtree(span: Span, kids: dict[int, list[Span]]):
    yield span
    for c in kids.get(span.id, []):
        yield from _subtree(c, kids)


def inclusive(span: Span, kids: dict[int, list[Span]], cores: int) -> dict:
    """Counters of a span including every span nested inside it."""
    out = dict.fromkeys(_SPARK_SUMS, 0.0)
    intervals = []
    for s in _subtree(span, kids):
        for k in _SPARK_SUMS:
            out[k] += s.spark.get(k, 0.0)
        intervals += s.job_intervals
    wall = span.end - span.start
    out["wall_s"] = wall
    out["self_s"] = self_time(span, kids)
    # without a marked action, the call's action is its first nested call
    # (e.g. the write of its output); without either, the whole span
    action = span.action_at
    if action is None:
        action = min((c.start for c in kids.get(span.id, [])), default=span.end)
    out["build_s"] = action - span.start
    out["core_util"] = out["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
    out["driver_share"] = 1.0 - covered(intervals, span.start, span.end) / wall if wall > 0 else 0.0
    return out


def layer_totals(spans: list[Span], cores: int) -> dict[str, dict]:
    """Per-layer counters for one set of spans (one pass). A span nested in a
    span of the same layer is not counted twice; self time adds up over all
    spans of the layer; ratios are recomputed from the sums."""
    by_id = {s.id: s for s in spans}
    kids = _children(spans)
    out = {layer: dict.fromkeys(COUNTERS + ("skipped_stages",), 0.0) for layer in LAYERS}
    for s in spans:
        tot = out[s.layer]
        tot["self_s"] += self_time(s, kids)
        anc, nested = s.parent, False
        while anc is not None:
            if by_id[anc].layer == s.layer:
                nested = True
                break
            anc = by_id[anc].parent
        if nested:
            continue
        inc = inclusive(s, kids, cores)
        for k in ("wall_s", "build_s") + _SPARK_SUMS:
            tot[k] += inc[k]
        tot["_busy"] = tot.get("_busy", 0.0) + inc["wall_s"] * (1.0 - inc["driver_share"])
    for tot in out.values():
        busy = tot.pop("_busy", 0.0)
        wall = tot["wall_s"]
        tot["core_util"] = tot["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
        tot["driver_share"] = 1.0 - busy / wall if wall > 0 else 0.0
    return out


def per_pass_layers(spans: list[Span], passes: list[int], cores: int) -> dict[str, dict]:
    """Median over ``passes`` of each layer counter."""
    tables = [layer_totals([s for s in spans if s.pass_no == p], cores) for p in passes]
    return {
        layer: {k: statistics.median(t[layer][k] for t in tables) for k in tables[0][layer]}
        for layer in LAYERS
    }


def per_operation(spans: list[Span], passes: list[int], cores: int) -> dict[str, dict]:
    """Median counters per top-level operation name (e.g. per query) over
    ``passes`` — the breakdown a later change uses to find its query's cost."""
    kids = _children(spans)
    rows: dict[str, list[dict]] = {}
    for s in spans:
        if s.parent is None and s.pass_no in passes:
            rows.setdefault(f"{s.layer}/{s.name}", []).append(inclusive(s, kids, cores))
    return {
        name: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
        for name, rs in sorted(rows.items())
    }
