"""Same-code stability study: run the benchmark on consecutive seeds for
each workload, then report every metric's median and quartile spread.

    python3 perfbench/study.py --seeds 10 --seconds 20 --trace 0
    python3 perfbench/study.py --seeds 3 --seconds 20 --trace both

The spread is (Q3 - Q1) / median over the runs, with quartiles as
``statistics.quantiles(values, n=4)`` gives them.  ``--trace both`` runs
every seed untraced and traced and also reports the tracing overhead:
the traced run's end-to-end figures against the untraced run's.
Each run's output is appended to ``.perfbench-out/study-<time>.jsonl`` as
it finishes; the table goes to stdout and ``study-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("search-serve", "ingest-churn")


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"rc": p.returncode, "stderr": p.stderr[-2000:]}
    return {"rc": 0, "detail": json.loads(lines[-2]),
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float(q3 != q1),
            "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    out_dir = os.path.join(REPO, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    runs: dict = {}
    failed = 0
    for wl in WORKLOADS:
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            for tr in traces:
                t = time.perf_counter()
                out = one_run(wl, seed, args.seconds, tr)
                wall = time.perf_counter() - t
                rec = {**out, "workload": wl, "seed": seed, "trace": tr,
                       "wall_s": wall}
                runs.setdefault(wl, {}).setdefault(tr, []).append(rec)
                with open(os.path.join(out_dir, f"study-{stamp}.jsonl"),
                          "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                failed += out["rc"] != 0
                print(f"{wl} seed={seed} trace={tr} rc={out['rc']} "
                      f"wall={wall:.1f}s", file=sys.stderr, flush=True)
    summary: dict = {}
    for wl, by_trace in runs.items():
        for tr, rs in by_trace.items():
            ok = [r for r in rs if r["rc"] == 0]
            if len(ok) < 2:
                continue
            names = ok[0]["result"]["metrics"]
            # the detail line's numeric figures: every named end-to-end
            # metric, including those the result line does not gate
            extra = [k for k, v in ok[0]["detail"].items()
                     if isinstance(v, float) and k != "measured_s"]
            summary.setdefault(wl, {})[tr] = {
                "wall_s": spread([r["wall_s"] for r in rs]),
                **{m: spread([r["result"]["metrics"][m]["value"]
                              for r in ok]) for m in names},
                **{f"detail.{k}": spread([r["detail"].get(k, 0.0)
                                          for r in ok]) for k in extra}}
            print(f"\n{wl} trace={tr} ({len(ok)}/{len(rs)} runs ok)")
            for m, s in summary[wl][tr].items():
                print(f"  {m:<44} median {s['median']:>12.4f}  "
                      f"Q1 {s['q1']:>12.4f}  Q3 {s['q3']:>12.4f}  "
                      f"spread {100 * s['spread']:6.2f}%")
        if 0 in by_trace and 1 in by_trace:
            plain = [r for r in by_trace[0] if r["rc"] == 0]
            traced = [r for r in by_trace[1] if r["rc"] == 0]
            if plain and traced:
                over = {}
                for m in traced[0]["detail"]["traced_e2e"]:
                    a = statistics.median(
                        r["result"]["metrics"][m]["value"] for r in plain)
                    b = statistics.median(r["detail"]["traced_e2e"][m]
                                          for r in traced)
                    over[m] = {"untraced": a, "traced": b,
                               "overhead": (b - a) / a}
                summary[wl]["tracing_overhead"] = over
                print(f"\n{wl} tracing overhead (median traced vs untraced)")
                for m, o in over.items():
                    print(f"  {m:<44} {o['untraced']:>12.4f} -> "
                          f"{o['traced']:>12.4f}  "
                          f"{100 * o['overhead']:+6.2f}%")
    path = os.path.join(out_dir, f"study-{stamp}.json")
    with open(path, "w") as fh:
        json.dump({"args": vars(args), "summary": summary}, fh, indent=1)
    print(f"\nwrote {path}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
