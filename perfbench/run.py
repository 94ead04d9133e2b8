"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_season --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` (untimed), spawns one worker process, times its set-up, lets it
run the workload for ``--seconds`` of warm passes, and prints as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The full
result (run metadata, every pass, per-query breakdown and, when traced, all
spans) is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_season", "fixpoint_queries")
#: the whole run, input generation included, ends within this many seconds
DEADLINE_S = 170.0
#: smaller inputs for the benchmark's own smoke tests
TINY = {"season": {"n_teams": 8, "n_days": 15}, "scale": 0.002}


class Worker:
    """``worker.py`` in its own process group, so that it, its JVM and the
    JVM's Python workers are waited for, or killed, together."""

    def __init__(self, args, scratch: str, extra: list[str]):
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": ROOT,
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
            "SPARK_DRIVER_MEMORY": "2g",
            "TMPDIR": scratch,
            "PYTHONHASHSEED": "0",
        })
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
               "--scratch", scratch] + extra
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
            stderr=None if args.verbose else subprocess.DEVNULL,
        )

    def wait_ready(self, deadline: float) -> float:
        """Set-up time: from spawn until the worker's READY line."""
        while (left := deadline - time.perf_counter()) > 0:
            if select.select([self.proc.stdout], [], [], left)[0]:
                line = self.proc.stdout.readline()
                if not line:
                    break
                if line.strip() == "READY":
                    return time.perf_counter() - self.started
        raise RuntimeError("worker did not finish set-up")

    def finish(self, deadline: float) -> None:
        """Wait for the worker and every process of its group to end."""
        self.proc.communicate(timeout=max(deadline - time.perf_counter(), 0.1))
        while time.perf_counter() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            raise RuntimeError("worker's processes did not end")
        if self.proc.returncode:
            raise RuntimeError(f"worker exited with code {self.proc.returncode}")

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        self.proc.wait()


def generate(workload: str, seed: int, input_dir: str, tiny: bool) -> dict:
    import gen

    if workload == "etl_season":
        return gen.write_season(input_dir, seed, **(TINY["season"] if tiny else {}))
    return gen.write_tables(input_dir, seed, TINY["scale"] if tiny else gen.TABLE_SCALE)


def declared_metrics() -> tuple[list, list]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def metric_values(result: dict, trace: int) -> dict:
    """Every declared metric of the requested kind, from a worker result."""
    end_to_end, per_layer = declared_metrics()
    if trace == 0:
        values = {m["name"]: result[m["name"]] for m in end_to_end}
        units = {m["name"]: m["unit"] for m in end_to_end}
    else:
        values = {f"{layer}.{k}": v for layer, t in result["layers"].items() for k, v in t.items()}
        values.update(result["layer_extra"])
        values["error_rate"] = result["failed"] / result["attempted"]
        units = {m["name"]: m["unit"] for m in per_layer}
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", default="", help=argparse.SUPPRESS)
    ap.add_argument("--verbose", action="store_true", help="show Spark's stderr")
    args = ap.parse_args(argv)
    deadline = time.perf_counter() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "hoops_edge_database_etl_spark", "__init__.py")):
        print("perfbench: the hoops_edge_database_etl_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    declared_metrics()  # fail before any work if BENCHMARK.json is missing

    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, "work")
    shutil.rmtree(scratch, ignore_errors=True)
    input_dir = os.path.join(scratch, "input")
    os.makedirs(os.path.join(scratch, "spark-local"))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    inputs = generate(args.workload, args.seed, input_dir, args.tiny)
    result_path = os.path.join(
        base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")

    extra = [
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--input-dir", input_dir, "--inputs-json", json.dumps(inputs), "--result", result_path,
    ]
    if args.corrupt:
        extra += ["--corrupt", args.corrupt]
    worker = Worker(args, scratch, extra)
    try:
        setup_s = worker.wait_ready(deadline)
        worker.finish(deadline)
    finally:
        worker.kill()

    with open(result_path) as fh:
        result = json.load(fh)
    result["setup_s"] = setup_s
    result["error_rate"] = result["failed"] / result["attempted"]
    with open(result_path, "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps({"meta": result["meta"], "failures": result["failures"],
                      "result_file": os.path.relpath(result_path, ROOT)}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metric_values(result, args.trace),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
