"""Benchmark command: run workloads, each in a fresh process with its own JVM.

    python3 perfbench/run.py --workload events --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

Run it from the repository root. Each workload runs in a child process
(``runner.py``) that is stopped if it outlives its time limit; this process
starts no JVM itself. For one workload, the last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--workload all`` every workload runs in turn and each metric is printed by
name with its unit. ``failed / attempted`` is the run's failed_frac.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("events", "backfill", "surface")
#: a child that runs longer than this is stopped and the run fails
CHILD_TIMEOUT_S = 170
#: what the benchmark imports from the repository it measures
REQUIRED = ("hubverse_transform_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py", "tools/gen_reseed.py")


def run_child(workload: str, args) -> tuple[int, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "runner.py"), "--workload", workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        # the child could not clean up its own work directory
        shutil.rmtree(os.path.join(".bench_work", f"{workload}-{args.seed}-{proc.pid}"), ignore_errors=True)
        print(f"{workload}: stopped after {CHILD_TIMEOUT_S} s", file=sys.stderr)
        return 1, []
    finally:
        # the child's JVM and any Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out.splitlines()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        print(f"run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    if args.workload != "all":
        code, lines = run_child(args.workload, args)
        if code != 0 or not lines:
            print(f"{args.workload}: runner exited with {code}", file=sys.stderr)
            return code or 1
        print("\n".join(lines))
        return 0

    status = 0
    for workload in WORKLOADS:
        code, lines = run_child(workload, args)
        if code != 0 or not lines:
            print(f"{workload}: runner exited with {code}", file=sys.stderr)
            status = code or 1
            continue
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        print(f"{workload}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} failed_frac={result['failed'] / result['attempted']:.4f}")
        for name, m in result["metrics"].items():
            print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
        print(f"  host: {json.dumps(record['host'])}")
        if record["errors"]:
            print(f"  errors: {record['errors']}")
        status = status or (0 if result["correct"] else 1)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
