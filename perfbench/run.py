"""Benchmark of the vector engine's public API on seeded inputs.

    python3 perfbench/run.py --workload search-serve --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  One process drives the engine at
``local[nproc]``.  ``--trace 0`` reports the end-to-end metrics, measured
with tracing off; ``--trace 1`` runs the same workload with every call in
its own Spark job group and the event log on, and reports the per-layer
metrics.  The last line of stdout is the result object; the line before
it holds the workload's detailed figures, and stderr shows them as a
table.  The exit code is 1 when any operation failed or answered wrong.
See README.md next to this file for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT_DIR = os.path.join(REPO, ".perfbench-out")
SETUPS = 3  # set-up repeats per run; setup_s is their median

sys.path.insert(0, REPO)

import layers  # noqa: E402
from sparkhost import SparkHost, tree_cpu_s  # noqa: E402
from spans import Tracer, job_stats, read_jobs  # noqa: E402
from workloads import WORKLOADS, Tally  # noqa: E402


def _commit() -> str:
    """The git commit, or "unknown" outside a git checkout."""
    try:
        # the ceiling keeps git from reporting an enclosing repository
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(REPO)}
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                              cwd=REPO, env=env, capture_output=True,
                              text=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _engine_digest() -> str:
    """sha256 over the engine's source files: names the code under test
    where there is no git commit to name it."""
    h = hashlib.sha256()
    pkg = os.path.join(REPO, "bob_vector_db_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for nm in sorted(names):
            if nm.endswith(".py"):
                path = os.path.join(d, nm)
                h.update(os.path.relpath(path, REPO).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    host = SparkHost(REPO, OUT_DIR, trace)
    tracer, tally = Tracer(), Tally()
    wl = WORKLOADS[workload](seed, tracer, tally, host.store_root("inputs"))
    try:
        setups = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            spark = host.start()
            spark.range(1000).selectExpr("sum(id)").collect()
            wl.generate()
            setups.append(time.perf_counter() - t)
        wl.spark = spark
        if trace:
            tracer.sc = spark.sparkContext
        load_cpu, t = tree_cpu_s(), time.perf_counter()
        with tracer.span("load"):
            wl.load()
        load_s, load_cpu = time.perf_counter() - t, tree_cpu_s() - load_cpu
        with tracer.span("warm"):
            wl.warm()
        steal, cpu = _steal_s(), tree_cpu_s()
        t = time.perf_counter()
        deadline = t + seconds
        steps: list[float] = []
        # closed loop: the next operation starts when the last one returns,
        # while a typical step (operation plus its checks) would end at most
        # half a step after the window
        while time.perf_counter() + _median(steps) / 2 < deadline:
            s = time.perf_counter()
            wl.step(len(steps))
            steps.append(time.perf_counter() - s)
        measured_s = time.perf_counter() - t
        steal, cpu = _steal_s() - steal, tree_cpu_s() - cpu
        log = host.stop()
        stats = job_stats(tracer, read_jobs(log)) if trace else None
    finally:
        host.close()
    os.makedirs(OUT_DIR, exist_ok=True)
    tracer.write(os.path.join(OUT_DIR,
                              f"spans-{workload}-{seed}-{int(trace)}.jsonl"))
    # the wall times a caller waits for, and beside them the CPU time of
    # the whole process tree for the same work, which moves far less with
    # other tenants' load on a shared host (see cpu_steal_s)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "bulk_load_s": (load_s, "s"),
        "op_p50_ms": (_median(wl.op_ms), "ms"),
        "items_per_s": (_rate(wl.items, wl.op_ms), "1/s"),
        "bulk_load_cpu_s": (load_cpu, "s"),
        "op_cpu_ms": (_median(wl.op_cpu_ms), "ms"),
    }
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "op": wl.unit, "ops": len(wl.op_ms), "measured_s": measured_s,
        "cpu_steal_s": steal, "cpu_s": cpu, "setups_s": setups,
        "error_rate": tally.failed / max(tally.attempted, 1),
        "errors": tally.errors[:5], **wl.detail(),
        "nproc": host.cpus, "pyspark": _pyspark_version(),
        "python": platform.python_version(), "commit": _commit(),
        "engine_digest": _engine_digest(),
    }
    if trace:
        table = layers.per_layer(wl, tracer, stats)
        metrics = layers.result_metrics(table)
        detail["traced_e2e"] = {k: v for k, (v, _) in e2e.items()}
        detail["gap_check_max_err"] = layers.gap_check(tracer, stats)
        detail["layers"] = {k: m["value"] for k, m in table.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"detail": detail,
            "result": {"correct": tally.failed == 0,
                       "attempted": tally.attempted,
                       "failed": tally.failed, "metrics": metrics}}


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the steal column of /proc/stat); 0 where the kernel has none."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _median(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


def _rate(items: int, ms: list[float]) -> float:
    """Items per second of the summed operation times."""
    return items / (sum(ms) / 1000.0) if ms else 0.0


def _pyspark_version() -> str:
    import pyspark  # noqa: PLC0415

    return pyspark.__version__


def _table(detail: dict, metrics: dict) -> str:
    rows = [f"{k:<44} {v['value']:>14.4f} {v['unit']}"
            for k, v in metrics.items()]
    rows += [f"{k:<44} {v}" for k, v in detail.items()]
    return "\n".join(rows)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(_table(out["detail"], out["result"]["metrics"]), file=sys.stderr)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
