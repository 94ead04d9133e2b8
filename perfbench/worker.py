"""One benchmark process: start Spark, run the workload's passes in a closed
loop, check outputs, and write a result file.

Started by ``run.py``, which times set-up from the moment it spawns this
process until the ``READY`` line arrives on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: modules each workload imports before it counts as set up
WORKLOAD_MODULES = {
    "etl_season": (
        "hoops_edge_database_etl_spark.streaming.pipeline",
        "hoops_edge_database_etl_spark.sources.io",
        "hoops_edge_database_etl_spark.normalize",
        "hoops_edge_database_etl_spark.operators.pbp",
        "hoops_edge_database_etl_spark.operators.ratings",
        "hoops_edge_database_etl_spark.plans.backtest",
        "hoops_edge_database_etl_spark.plans.quality",
    ),
    "fixpoint_queries": ("hoops_edge_database_etl_spark.queries",),
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(workload: str, scratch: str, trace: bool):
    """Start the session, then import the workload's modules (some build
    Columns at import time and need an active SparkContext)."""
    import importlib

    from hoops_edge_database_etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of a span readable until the span ends
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(app_name=f"perfbench-{workload}", cpus=cores(), extra_conf=conf)
    for mod in WORKLOAD_MODULES[workload]:
        importlib.import_module(mod)
    if workload != "etl_season":
        from hoops_edge_database_etl_spark.queries import all_queries

        all_queries()  # registration imports every query module
    return spark


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss() -> dict[str, float]:
    """VmHWM in MB of this process (the driver's Python) and every live
    descendant of it (the driver JVM and its Python workers), by process."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        children.setdefault(int(tail.split()[1]), []).append(int(entry))
        names[int(entry)] = head.split("(", 1)[1]
    out = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        out[f"{names.get(pid, '?')}:{pid}"] = _vm_hwm_kb(pid) / 1024.0
        todo += children.get(pid, [])
    return out


def run_metadata(spark, args) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            commit = open(path).read().strip() if os.path.exists(path) else ref[5:]
        else:
            commit = ref
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "master": spark.sparkContext.master,
        "spark": spark.version, "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "git_commit": commit,
    }


def make_workload(spark, args, inputs: dict):
    import workloads

    if args.workload == "etl_season":
        return workloads.EtlSeason(spark, args.input_dir, os.path.join(args.scratch, "etl"), inputs)
    return workloads.Queries(spark, workloads.FIXPOINT_QUERIES, args.input_dir)


def run_pass(wl, tracer, order, pass_no: int, log: dict, seconds: dict) -> float:
    """Run one pass; return the summed wall time of its operations. Each
    operation's fingerprint goes to ``log`` and its time to ``seconds``."""
    wl.start_pass(pass_no)
    tracer.pass_no = pass_no
    total = 0.0
    for name in order:
        t0 = time.perf_counter()
        try:
            fp = wl.run_op(name, tracer)
            took = time.perf_counter() - t0
            if callable(fp):
                fp = fp()
        except Exception as exc:  # an operation failing is a measured outcome
            took = time.perf_counter() - t0
            fp = f"error: {type(exc).__name__}: {str(exc)[:300]}"
        total += took
        log.setdefault(name, []).append(fp)
        seconds.setdefault(name, []).append(took)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_MODULES))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--input-dir", default="")
    ap.add_argument("--inputs-json", default="{}")
    ap.add_argument("--result", default="")
    ap.add_argument("--corrupt", default="")
    args = ap.parse_args(argv)

    spark = start_spark(args.workload, args.scratch, args.trace == 1)
    print("READY", flush=True)
    try:
        return run(spark, args)
    finally:
        spark.stop()


def run(spark, args) -> int:
    from spans import Tracer, per_operation, per_pass_layers

    inputs = json.loads(args.inputs_json)
    wl = make_workload(spark, args, inputs)
    rng = random.Random(args.seed)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    off = Tracer(enabled=False)
    on = Tracer(spark.sparkContext, run_id=run_id, enabled=args.trace == 1)

    def order():
        ops = list(wl.ops)
        if args.workload != "etl_season":
            rng.shuffle(ops)  # the seed decides which query runs first
        return ops

    fps: dict[str, list] = {}
    op_seconds: dict[str, list] = {}
    cold = run_pass(wl, off, order(), 0, fps, op_seconds)
    untraced, traced, traced_passes = [], [], []
    deadline = time.perf_counter() + args.seconds
    pass_no = 1
    # closed loop: at least one warm pass, or one of each kind when tracing
    while pass_no <= 1 + args.trace or time.perf_counter() < deadline:
        if args.trace == 1 and pass_no % 2 == 0:
            traced.append(run_pass(wl, on, order(), pass_no, fps, op_seconds))
            traced_passes.append(pass_no)
        else:
            untraced.append(run_pass(wl, off, order(), pass_no, fps, op_seconds))
        pass_no += 1
    # before the checks, whose oracle and table reads are not the program's
    rss = peak_rss()

    # ---- output checks (untimed) ----
    check_start = time.perf_counter()
    failures: dict[str, str] = {}
    ratios: dict = {}
    if args.workload == "etl_season":
        if args.corrupt:
            inputs[args.corrupt] = inputs.get(args.corrupt, 0) + 1
        try:
            failures, ratios = wl.check()
        except Exception as exc:
            failures = {op: f"check raised {type(exc).__name__}: {exc}" for op in wl.ops}
        oracle = {}
    else:
        oracle = wl.oracle_fingerprints(os.path.join(args.scratch, "oracle"), args.corrupt or None)
    attempted = failed = 0
    for op, runs in fps.items():
        # every pass must match the oracle's result, or else the first pass
        reference = oracle.get(op, runs[0])
        for fp in runs:
            attempted += 1
            if op in failures or fp.startswith("error") or fp != reference:
                failed += 1
                failures.setdefault(op, fp if fp.startswith("error") else "fingerprint differs")
    result = {
        "meta": run_metadata(spark, args),
        "inputs": inputs,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "cold_pass_s": cold,
        "pass_s": statistics.median(untraced),
        "passes_untraced": untraced,
        "op_seconds": op_seconds,
        "peak_rss_mb": sum(rss.values()),
        "peak_rss_by_process": rss,
        "check_s": time.perf_counter() - check_start,
    }
    if args.trace == 1:
        n = cores()
        layers = per_pass_layers(on.spans, traced_passes, n)
        extra = {
            "normalize.keep_ratio": ratios.get("keep_ratio", 0.0),
            "streaming.batches": _median_attr(on.spans, traced_passes, "streaming", "batches"),
            "streaming.input_rows": _median_attr(on.spans, traced_passes, "streaming", "input_rows"),
            "sources.files_written": _median_attr(on.spans, traced_passes, "sources", "files_written"),
            "sources.write_amp": (
                layers["sources"]["output_mb"] * 1024 * 1024 / inputs["raw_bytes"]
                if inputs.get("raw_bytes") else 0.0
            ),
            "operators.ratings.snapshots": _median_attr(
                on.spans, traced_passes, "operators.ratings", "snapshots"),
            "queries.skipped_stage_ratio": _skipped_ratio(layers["queries"]),
            "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
        }
        result.update({
            "passes_traced": traced,
            "layers": layers,
            "layer_extra": extra,
            "operations": per_operation(on.spans, traced_passes, n),
            "spans": [s.to_json() for s in on.spans],
        })
    with open(args.result, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    return 0


def _median_attr(spans, passes, layer, key) -> float:
    per_pass = [
        sum(s.attrs.get(key, 0) for s in spans if s.pass_no == p and s.layer == layer)
        for p in passes
    ]
    return float(statistics.median(per_pass)) if per_pass else 0.0


def _skipped_ratio(t: dict) -> float:
    total = t["stages"] + t["skipped_stages"]
    return t["skipped_stages"] / total if total else 0.0


if __name__ == "__main__":
    sys.exit(main())
