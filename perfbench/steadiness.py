"""Steadiness evidence: run each workload ``--runs`` times, each with its own
seed, and record every end-to-end metric's median, quartiles and spread
(IQR / median) next to its bound.

    python3 perfbench/steadiness.py --runs 10 [--workloads events surface] [--first-seed 1000]

Writes ``perfbench/STEADINESS.json``; workloads not run keep their entry.
Runs one workload at a time, in the foreground, from the repository root.
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
OUT = os.path.join(HERE, "STEADINESS.json")


def main() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()

    doc = {}
    if os.path.exists(OUT):
        with open(OUT, encoding="utf-8") as f:
            doc = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for workload in args.workloads:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, timeout=200,
            )
            lines = proc.stdout.splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
            runs.append(
                {
                    "seed": seed,
                    "run_s": round(time.perf_counter() - t0, 1),
                    "correct": result["correct"],
                    "attempted": result["attempted"],
                    "failed": result["failed"],
                    "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                    "warm_pass_s": record["warm_pass_s"],
                    "pass_wall_s": record["pass_wall_s"],
                    "pass_parts": record["pass_parts"],
                    "setups": record["setups"],
                    "host": record["host"],
                }
            )
            print(f"{workload} seed {seed}: {runs[-1]['run_s']} s {runs[-1]['metrics']}", flush=True)
        summary = {}
        for metric, bound in bounds.items():
            values = [r["metrics"][metric] for r in runs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            summary[metric] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "bound": bound,
            }
        doc[workload] = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "median_run_s": statistics.median(r["run_s"] for r in runs),
            "metrics": summary,
            "per_run": runs,
        }
        for metric, s in summary.items():
            print(f"{workload} {metric}: median {s['median']:.4f} spread {s['spread']:.3f} (bound {s['bound']})")
        with open(OUT, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
