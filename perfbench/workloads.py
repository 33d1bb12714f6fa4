"""The three workloads. Each is one closed loop with a single client.

A workload makes its inputs (:meth:`generate`, no Spark job), warms the
session up (:meth:`warmup`, which returns the check of its output so that
the check runs after set-up is timed), then runs passes over a fixed,
seeded list of operations (:meth:`run_pass`). A pass returns the blocking
time of every operation and the outcome of checking every output against
the generator's truth; checks run after the timed calls.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

import check
import gen
from spans import Tracer, median, self_time
from sparkstats import JobGroups

from hubverse_transform_spark.transform import ModelOutputPipeline


@dataclass
class PassResult:
    wall_s: float  # blocking time of the program over the pass
    latencies: list[float]  # seconds, one per operation
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    parts: dict[str, float] = field(default_factory=dict)  # named shares of wall_s
    layers: dict[str, float] = field(default_factory=dict)  # traced passes only

    def fail(self, errs: list[str]) -> None:
        if errs:
            self.failed += 1
            self.errors.extend(errs)


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


# --- tracing of the per-file pipeline -----------------------------------

#: ModelOutputPipeline method -> (span name, tag its Spark jobs)
PIPELINE_SPANS = {
    "__init__": ("transform.construct", False),
    "read_file": ("sources.read", True),
    "add_columns": ("transform.columns", False),
    "write_parquet": ("transform.write", True),
    "delete_model_output": ("transform.delete", False),
}
PIPELINE_NAMES = {span for span, _ in PIPELINE_SPANS.values()}


def instrument_pipeline(tracer: Tracer, groups: JobGroups):
    """Wrap the public ModelOutputPipeline methods in spans (traced passes
    only); returns a function that puts the originals back."""
    originals = {name: getattr(ModelOutputPipeline, name) for name in PIPELINE_SPANS}

    def wrap(orig, span_name, tag_jobs):
        def wrapper(*args, **kwargs):
            span = tracer.open(span_name)
            prev = None
            if tag_jobs:
                span.attrs["group"], prev = groups.enter(span_name)
            try:
                return orig(*args, **kwargs)
            finally:
                if tag_jobs:
                    groups.leave(prev)
                tracer.close(span)

        return wrapper

    for name, (span_name, tag_jobs) in PIPELINE_SPANS.items():
        setattr(ModelOutputPipeline, name, wrap(originals[name], span_name, tag_jobs))

    def restore():
        for name, orig in originals.items():
            setattr(ModelOutputPipeline, name, orig)

    return restore


def pipeline_layers(tracer: Tracer, groups: JobGroups) -> dict[str, float]:
    """Per-file pipeline metrics from the spans of one traced pass."""
    groups.drain()

    def ms(name):
        return median([s.duration * 1000 for s in tracer.named(name)])

    def jobs_per(name):
        spans = tracer.named(name)
        return median([len(groups.jobs(s.attrs["group"])) for s in spans])

    return {
        "transform.construct_ms": ms("transform.construct"),
        "sources.read_ms": ms("sources.read"),
        "sources.jobs_per_read": jobs_per("sources.read"),
        "transform.write_ms": ms("transform.write"),
        "transform.jobs_per_write": jobs_per("transform.write"),
        "transform.delete_ms": ms("transform.delete"),
    }


def warm_one_file(spark, hub: str, sub: gen.Submission):
    """Set-up warm-up: one per-file create; returns the check of its output."""
    _write(os.path.join(hub, "raw", sub.name), sub.data)
    mo = ModelOutputPipeline(spark, hub, f"raw/{sub.name}", os.path.join(hub, "out", "warmup"))
    path = mo.add_model_output()
    return lambda: check.per_file_output(path, sub)


# --- events ---------------------------------------------------------------


class Events:
    """Per-file object events through ``ModelOutputPipeline`` (the Lambda
    path): creates, re-uploads, deletes and refused files."""

    #: one block of ten events a pass, so that a run measures several passes
    BLOCKS = 1
    #: unreported passes before measuring. JIT compilation keeps speeding the
    #: passes up long after set-up, and a run measured on the steep part of
    #: that slope would report how far its warm-up got rather than the
    #: program. The counts are read off measured curves; see METRICS.md.
    WARM_PASSES = 10

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def generate(self, root: str) -> str:
        self.hub = root
        gen.write_hub(root)
        self.schedule = gen.event_schedule(self.seed, self.BLOCKS)
        self.warm = gen.csv_submission(
            random.Random(self.seed + 1), gen.ROUNDS[0], "warmup", gen.FULL_SUBMISSION_ROWS, provenance=True
        )
        return gen.digest([e.sub for e in self.schedule] + [self.warm])

    def warmup(self, spark):
        return warm_one_file(spark, self.hub, self.warm)

    def run_pass(self, spark, k: int, tracer: Tracer | None, groups: JobGroups | None) -> PassResult:
        out = os.path.join(self.hub, "out", f"p{k}")
        res = PassResult(0.0, [])
        in_bytes = out_bytes = 0
        for ev in self.schedule:
            raw = os.path.join(self.hub, "raw", ev.sub.name)
            target = os.path.join(out, f"{ev.sub.stem}.parquet")
            # the upload (or removal) that fires the event is not timed
            if ev.kind == "delete":
                if os.path.exists(raw):
                    os.remove(raw)
            else:
                _write(raw, ev.sub.data)
            outcome: BaseException | None = None
            span = tracer.open("op", kind=ev.kind) if tracer else None
            t0 = time.perf_counter()
            try:
                mo = ModelOutputPipeline(spark, self.hub, f"raw/{ev.sub.name}", out)
                if ev.kind == "delete":
                    mo.delete_model_output()
                else:
                    mo.add_model_output()
            except Exception as e:  # noqa: BLE001 - the outcome is checked below
                outcome = e
            t1 = time.perf_counter()
            if span:
                tracer.close(span)
            res.latencies.append(t1 - t0)
            res.attempted += 1
            name = f"{ev.kind} {ev.sub.name}"
            if ev.kind == "unsupported":
                ok = isinstance(outcome, UserWarning) and not os.path.exists(target)
                res.fail([] if ok else [f"{name}: outcome {outcome!r}, want UserWarning and no output"])
            elif outcome is not None:
                res.fail([f"{name}: {type(outcome).__name__}: {outcome}"])
            elif ev.kind == "delete":
                res.fail([f"{name}: output still present"] if os.path.exists(target) else [])
            else:
                res.fail(check.per_file_output(target, ev.sub))
                in_bytes += len(ev.sub.data)
                out_bytes += os.path.getsize(target) if os.path.exists(target) else 0
        res.wall_s = sum(res.latencies)
        left = check.tmp_dirs(out)
        res.fail([f"pass {k}: staging dirs left behind: {left}"] if left else [])
        if tracer:
            res.layers = pipeline_layers(tracer, groups)
            res.layers["transform.tmp_dirs_left"] = len(left)
            res.layers["transform.output_bytes_per_input_byte"] = out_bytes / max(1, in_bytes)
            res.layers["events.span_coverage"] = median(
                [1.0 - self_time(op, tracer.children(op)) / op.duration for op in tracer.named("op")]
            )
        return res


# --- backfill -------------------------------------------------------------


class Backfill:
    """A CSV hub history replayed by the file-source stream (per-file
    outputs), then rebuilt by the one-pass bulk backfill (one partitioned
    lake)."""

    WARM_PASSES = 3

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def generate(self, root: str) -> str:
        self.root = root
        self.hub = os.path.join(root, "hub")
        # the warm-up file lives in its own hub so it never joins the replay
        self.warm_hub = os.path.join(root, "warm")
        gen.write_hub(self.hub)
        gen.write_hub(self.warm_hub)
        self.subs = gen.backfill_submissions(self.seed)
        for s in self.subs:
            _write(os.path.join(self.hub, "raw", s.name), s.data)
        self.in_bytes = sum(len(s.data) for s in self.subs)
        self.warm = gen.backfill_submissions(self.seed + 1, (gen.FULL_SUBMISSION_ROWS,))[0]
        return gen.digest(self.subs + [self.warm])

    def warmup(self, spark):
        return warm_one_file(spark, self.warm_hub, self.warm)

    def run_pass(self, spark, k: int, tracer: Tracer | None, groups: JobGroups | None) -> PassResult:
        from hubverse_transform_spark.sinks import backfill_hub_dataset
        from hubverse_transform_spark.streaming.ingest import stream_model_outputs

        tag = f"p{k}"
        out = os.path.join(self.hub, "out", tag)
        lake = os.path.join(self.hub, "lake", tag)
        before = groups.all_job_ids() if tracer else set()
        start = time.time()
        span = tracer.open("ingest.stream") if tracer else None
        t0 = time.perf_counter()
        query = stream_model_outputs(
            spark, self.hub, output_dir=f"out/{tag}", checkpoint_dir=os.path.join(self.root, "ckpt", tag)
        )
        query.awaitTermination()
        stream_s = time.perf_counter() - t0
        if span:
            tracer.close(span)
        if tracer:  # split the job ids between the two phases, untimed
            groups.drain()
            stream_jobs = sorted(groups.all_job_ids() - before)
        t1 = time.perf_counter()
        backfill_hub_dataset(spark, self.hub, lake)
        bulk_s = time.perf_counter() - t1

        # per-file latency seen from outside: the gaps between successive
        # per-file outputs landing (the first gap includes discovery)
        paths = [os.path.join(out, f"{s.stem}.parquet") for s in self.subs]
        done = sorted(os.stat(p).st_mtime for p in paths if os.path.exists(p))
        res = PassResult(stream_s + bulk_s, [b - a for a, b in zip([start] + done, done)])
        res.parts = {"stream_s": stream_s, "bulk_s": bulk_s}
        for path, s in zip(paths, self.subs):
            res.attempted += 1
            res.fail(check.per_file_output(path, s))
        res.attempted += 1
        res.fail(check.lake_output(lake, self.subs))
        left = check.tmp_dirs(out)
        res.fail([f"{tag}: staging dirs left behind: {left}"] if left else [])
        if not tracer:
            return res

        # the per-file pipeline runs on the stream's callback thread, so its
        # spans are not children of the stream span: pick them by name
        per_file = [s for s in tracer.spans if s.name in PIPELINE_NAMES]
        lake_files = [os.path.join(d, f) for d, _, fs in os.walk(lake) for f in fs if f.endswith(".parquet")]
        res.layers = pipeline_layers(tracer, groups)
        res.layers.update(
            {
                "ingest.stream_s": stream_s,
                "ingest.discover_s": self_time(span, per_file),
                "ingest.bytes_read_per_input_byte": groups.stages(stream_jobs)["input_bytes"] / self.in_bytes,
                "ingest.batches": sum(1 for p in query.recentProgress if p.get("numInputRows", 0) > 0),
                "sinks.backfill_s": bulk_s,
                "sinks.files_written": len(lake_files),
                "sinks.bytes_written_per_input_byte": sum(map(os.path.getsize, lake_files)) / self.in_bytes,
                "transform.tmp_dirs_left": len(left),
            }
        )
        return res


# --- surface --------------------------------------------------------------


class Surface:
    """A fixed slice of the analytic query surface over a seeded corpus:
    q253, which consumes the shared co-purchase edge build and builds
    eagerly, plus six cheap, dispatch-bound queries (under 0.5 s in
    ``BENCH.json``), one from each sixth of that set ordered by cost.
    ``--seed`` makes the corpus; the list is fixed, because when the seed
    picked the cheap queries the median query latency moved by 0.15 of
    itself across five seeds.
    """

    NAMES = (
        "q253_degree_assortativity",
        "q78_frame_navigation",
        "q351_peak_detection",
        "q247_simpson_audit",
        "q05_customers_no_orders",
        "q15_acctbal_above_nation_avg",
        "q357_conversion_regression_detector",
    )
    CHEAP = NAMES[1:]
    WARM_PASSES = 3

    def __init__(self, seed: int) -> None:
        import __spark_entry__

        self.seed = seed
        self.queries = __spark_entry__.queries()
        self.oracle: check.OracleCheck | None = None

    def check(self, name: str, table) -> list[str]:
        """``table`` against the DuckDB oracle. The oracle reads the first
        set-up's corpus; every set-up's corpus is byte-identical to it."""
        if self.oracle is None:
            self.oracle = check.OracleCheck(self.corpus)
        if name not in self.queries or not self.oracle.has_oracle(name):
            return [f"{name}: no oracle or gone from the surface"]
        return self.oracle(name, table)

    def generate(self, root: str) -> str:
        from corpus import make_corpus

        self.corpus = os.path.join(root, "corpus")
        make_corpus(self.corpus, self.seed)
        h = hashlib.sha256(" ".join(self.NAMES).encode())
        for name in sorted(os.listdir(self.corpus)):
            if name.endswith(".parquet"):
                with open(os.path.join(self.corpus, name), "rb") as f:
                    h.update(f.read())
        return h.hexdigest()

    def warmup(self, spark):
        name = self.CHEAP[0]
        table = self.queries[name](spark, self.corpus).toArrow()
        return lambda: self.check(name, table)

    def run_pass(self, spark, k: int, tracer: Tracer | None, groups: JobGroups | None) -> PassResult:
        res = PassResult(0.0, [])
        tables = {}
        timing = {}
        for name in self.NAMES:
            fn = self.queries[name]
            if tracer:
                g_build, prev = groups.enter("build")
            t0 = time.perf_counter()
            df = fn(spark, self.corpus)
            t1 = time.perf_counter()
            if tracer:
                groups.leave(prev)
                df._jdf.queryExecution().executedPlan()
                g_exec, prev = groups.enter("exec")
            t2 = time.perf_counter()
            tables[name] = df.toArrow()
            t3 = time.perf_counter()
            if tracer:
                groups.leave(prev)
                timing[name] = (t1 - t0, t2 - t1, t3 - t2, g_build, g_exec)
            res.latencies.append(t3 - t0)
        res.wall_s = sum(res.latencies)
        res.parts = dict(zip(self.NAMES, res.latencies))
        for name, table in tables.items():
            res.attempted += 1
            res.fail(self.check(name, table))
        if tracer:
            res.layers = self._layers(groups, timing)
        return res

    def _layers(self, groups: JobGroups, timing) -> dict[str, float]:
        groups.drain()
        build_jobs, exec_jobs = [], []
        for _, _, _, gb, ge in timing.values():
            build_jobs += groups.jobs(gb)
            exec_jobs += groups.jobs(ge)
        stages = groups.stages(build_jobs + exec_jobs)
        cheap = set(self.CHEAP)
        return {
            "surface.build_s": sum(t[0] for t in timing.values()),
            "surface.plan_s": sum(t[1] for t in timing.values()),
            "surface.exec_s": sum(t[2] for t in timing.values()),
            "surface.jobs_in_build": len(build_jobs),
            "surface.jobs": len(build_jobs) + len(exec_jobs),
            "surface.tasks": stages["tasks"],
            "surface.executor_cpu_s": stages["cpu_s"],
            "surface.shuffle_bytes": stages["shuffle_bytes"],
            "surface.spill_bytes": stages["spill_bytes"],
            "surface.dispatch_p50_ms": median(
                [(t[0] + t[1]) * 1000 for n, t in timing.items() if n in cheap]
            ),
        }


WORKLOADS = {"events": Events, "backfill": Backfill, "surface": Surface}
