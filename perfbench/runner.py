"""Run one workload in this process: set up, measure, check, report.

Started by ``run.py`` as a fresh process per workload, so every workload gets
its own JVM and no JIT or cache state carries over between workloads.
Prints one JSON record line and then the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

from host import LoadRecord, proc_cpu_s  # noqa: E402
from spans import Tracer, median, percentile, tail_percentile  # noqa: E402

#: set-ups per run after the one that launches the JVM (reported as
#: session.cold_start_s). Each restarts the session inside that JVM, and
#: setup_s is their median. They run after the measured passes, when the JIT
#: has settled: run before the passes, they fell by a quarter from the first
#: to the fifth and setup_s spread up to 0.235 over five seeds.
SETUPS = 3
#: measured passes per run, at least
MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "latency_p50_ms": "ms"}


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark and Python write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_GRAFT_CPUS": str(cpus),
            # every JVM, the spark-submit launcher's too: temp files in the
            # work directory, no hsperfdata under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )


def set_up(workload, work: str, cpus: int, spark):
    """One set-up: make inputs, start the session, warm it up. The warm-up's
    output is checked after the set-up is timed."""
    from hubverse_transform_spark.session import get_spark

    # tearing the previous session down is not part of setting up
    stop = time.perf_counter()
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    digest = workload.generate(work)
    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    t2 = time.perf_counter()
    try:
        pending = workload.warmup(spark)
    except Exception as e:  # noqa: BLE001 - a failing program is a result to report
        pending, errs = None, [f"warm-up: {type(e).__name__}: {e}"]
    t3 = time.perf_counter()
    if pending:
        errs = pending()
    times = {"total": t3 - t0, "generate": t1 - t0, "start": t2 - t1, "warmup": t3 - t2, "stop": t0 - stop}
    return spark, digest, errs, times


def run(args) -> dict:
    from sparkstats import JobGroups, gc_s, jvm_pid, shutdown
    from workloads import WORKLOADS, instrument_pipeline

    # two task slots leave the other cores to the JIT and GC threads, the
    # driver and py4j: with local[4] on four cores the warm-up curve was
    # longer and the passes slower. The per-file path runs one task at a time.
    cpus = max(1, min(2, os.cpu_count() or 1))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work, cpus)
    load = LoadRecord()
    workload = WORKLOADS[args.workload](args.seed)
    spark = None
    errors: list[str] = []
    try:
        spark, digest, errs, times = set_up(workload, os.path.join(work, "setup0"), cpus, None)
        setups, digests = [times], [digest]
        errors += errs

        # the first passes let the JIT and the caches settle (the workload's
        # WARM_PASSES): their outputs are checked, their times not reported.
        # A traced run then alternates untraced and traced passes, so the
        # tracing overhead is measured on the same process and inputs.
        warm = [workload.run_pass(spark, k, None, None) for k in range(workload.WARM_PASSES)]
        groups = JobGroups(spark)
        pid = jvm_pid(spark)
        cpu0 = proc_cpu_s(pid) + proc_cpu_s(os.getpid())
        gc0 = gc_s(spark)
        passes, traced = [], []
        t_start = time.perf_counter()
        k = workload.WARM_PASSES
        while True:
            tracer = Tracer() if args.trace and k % 2 == 0 else None
            restore = instrument_pipeline(tracer, groups) if tracer else None
            try:
                res = workload.run_pass(spark, k, tracer, groups if tracer else None)
            finally:
                if restore:
                    restore()
            (traced if tracer else passes).append(res)
            k += 1
            # stop when another pass would end further past --seconds than
            # stopping now falls short of it
            elapsed = time.perf_counter() - t_start
            enough = len(passes) >= MIN_PASSES and (traced or not args.trace)
            if enough and elapsed + 0.5 * res.wall_s >= args.seconds:
                break
        measured_s = time.perf_counter() - t_start
        cpu_s = proc_cpu_s(pid) + proc_cpu_s(os.getpid()) - cpu0
        gc = gc_s(spark) - gc0

        for i in range(1, 1 + SETUPS):
            spark, digest, errs, times = set_up(workload, os.path.join(work, f"setup{i}"), cpus, spark)
            setups.append(times)
            digests.append(digest)
            errors += errs
        if len(set(digests)) != 1:
            errors.append(f"generator is not deterministic: {digests}")
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    everything = warm + passes + traced
    attempted = sum(p.attempted for p in everything)
    failed = min(attempted, sum(p.failed for p in everything) + (1 if errors else 0))
    errors += [e for p in everything for e in p.errors]
    lat = [x * 1000 for p in passes for x in p.latencies]
    tail_p = tail_percentile(len(lat))
    setup_s = median([s["total"] for s in setups[1:]])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "warm_pass_s": [p.wall_s for p in warm],
        "pass_wall_s": [p.wall_s for p in passes],
        "pass_parts": [p.parts for p in passes],
        "traced_pass_wall_s": [p.wall_s for p in traced],
        "measured_s": measured_s,
        "latency_samples": len(lat),
        "tail_percentile": tail_p,
        "setups": setups,
        "errors": errors[:10],
    }
    host = load.finish()
    record["host"] = host
    if args.trace:
        metrics = layer_metrics(passes, traced, setups, tail_p, lat)
        metrics.update(host)
        metrics["proc.cpu_s"] = cpu_s
        metrics["jvm.gc_s"] = gc
        units = layer_units()
        out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": median([p.wall_s for p in passes]),
            "latency_p50_ms": median(lat),
        }
        out = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}
    return {
        "record": record,
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out},
    }


def layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def layer_metrics(passes, traced, setups, tail_p, lat) -> dict[str, float]:
    """Per-layer values of a traced run: medians over its traced passes,
    plus set-up parts and the tracing overhead."""
    metrics: dict[str, float] = {
        "session.cold_start_s": setups[0]["start"],
        "session.start_s": median([s["start"] for s in setups[1:]]),
        "session.warmup_s": median([s["warmup"] for s in setups[1:]]),
        "inputs.generate_s": median([s["generate"] for s in setups[1:]]),
        "latency_tail_ms": percentile(lat, tail_p) if tail_p else max(lat, default=0.0),
    }
    keys = {k for p in traced for k in p.layers}
    for key in keys:
        metrics[key] = median([p.layers[key] for p in traced if key in p.layers])
    untraced = median([p.wall_s for p in passes])
    metrics["trace.overhead_frac"] = median([p.wall_s for p in traced]) / untraced - 1.0 if untraced else 0.0
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=("events", "backfill", "surface"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args)
    print(json.dumps({"record": out["record"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
