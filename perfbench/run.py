"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it describe the run (cores, master,
partitions, sample counts, per-op-kind figures). Everything the run
writes lives in ``.perfbench-work/`` under the current directory and is
deleted at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_CYCLES = 3


class Context:
    """Run-wide state the workloads share: seed, workspace, session."""

    def __init__(self, args, work: str, cores: int):
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = cores
        self.tracer = Tracer(False)
        self.spark = None
        self.problems: list[str] = []
        self.event_log = os.path.join(work, "eventlog")

    def start_session(self, traced: bool):
        from aws_healthcare_etl_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.tracer.enabled = traced
        conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g",  # fixed-size heap
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if traced:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
        self.tracer.bind(self.spark)


WORKLOADS = {"ingest": "Ingest", "analytics": "Analytics", "llm_prep": "LlmPrep"}


def make_workload(name: str, ctx: Context):
    """The workload class lives in the module named after the workload."""
    return getattr(importlib.import_module(name), WORKLOADS[name])(ctx)


def hermetic_env(work: str, cores: int) -> None:
    """Pin cores and keep every file the run writes inside ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher's too: perf data off, temp
        # files in the workspace
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # Hadoop's container default; bounds glibc arena growth in the
        # JVM, which otherwise makes peak RSS vary run to run
        "MALLOC_ARENA_MAX": "4",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    time.tzset()


def run(args) -> int:
    from measure import median, peak_rss_mb, percentile, reset_peak_rss, rss_pids

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        hermetic_env(work, cores)
        sys.path.insert(0, REPO)
        t0 = time.perf_counter()
        try:
            import aws_healthcare_etl_pipeline_spark.plans  # noqa: F401
            import aws_healthcare_etl_pipeline_spark.session  # noqa: F401
        except ImportError as e:
            print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
            return 2
        import_s = time.perf_counter() - t0

        ctx = Context(args, work, cores)
        wl = make_workload(args.workload, ctx)
        wl.generate()
        reset_peak_rss()  # the peak counts the engine, not the input generators

        # Set-up cycles: session start + index build + first answer. The
        # first cycle also pays JVM launch and the cold warm-up; setup_s is
        # package import plus the median of the later, warm-JVM cycles. In
        # a traced run the last cycle is traced and the last two repeat the
        # warm-up, so their difference is the tracing overhead on identical
        # ops.
        cycle_s, warm = [], []
        for cycle in range(SETUP_CYCLES):
            c0 = time.perf_counter()
            ctx.start_session(traced=ctx.trace and cycle == SETUP_CYCLES - 1)
            wl.prepare(cycle)
            wl.first_result()
            if cycle == 0 or (ctx.trace and cycle >= SETUP_CYCLES - 2):
                warm.append(wl.warmup())
            cycle_s.append(time.perf_counter() - c0)

        t_run = time.perf_counter()
        ops = wl.run(t_run + args.seconds)
        window = time.perf_counter() - t_run
        rss = peak_rss_mb(rss_pids(ctx.spark))

        lat = [o[1] for o in ops if o[2]]
        failed = sum(1 for o in ops if not o[2])
        attempted = len(ops)
        info = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "master": ctx.spark.sparkContext.master,
            "shuffle_partitions": int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
            "import_s": round(import_s, 3), "window_s": round(window, 3),
            "ops": attempted, "failed": failed,
            "fail_ratio": failed / attempted if attempted else 1.0,
            "tail_pct": wl.tail_pct, "setup_cycles_s": [round(c, 3) for c in cycle_s],
            "per_kind_p50_s": per_kind(ops), **wl.details(),
        }
        ctx.spark.stop()
        if ctx.trace:
            metrics = layer_report(ctx, wl, import_s, cycle_s, warm, info)
        else:
            metrics = {
                "setup_s": import_s + median(cycle_s[1:]),
                "op_p50_s": percentile(lat, 50) if lat else 0.0,
                "op_tail_s": percentile(lat, wl.tail_pct) if lat else 0.0,
                "ops_per_s": len(lat) / window,
                "peak_rss_mb": rss,
            }
        for p in ctx.problems:
            print(f"perfbench: FAILED CHECK: {p}", file=sys.stderr)
        correct = not ctx.problems and failed == 0 and attempted > 0
        print(json.dumps({"info": info}))
        section = "per_layer" if ctx.trace else "end_to_end"
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)[section]}
        print(json.dumps({
            "correct": correct,
            "attempted": max(attempted, 1),
            "failed": failed if attempted else 1,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
        }))
        return 0 if correct else 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop_jvm() -> None:
    """Stop the session and the driver JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_kind(ops) -> dict[str, float]:
    from measure import median

    kinds: dict[str, list[float]] = {}
    for kind, lat, ok in ops:
        kinds.setdefault(kind, []).append(lat)
    return {k: round(median(v), 4) for k, v in sorted(kinds.items())}


def layer_report(ctx, wl, import_s, cycle_s, warm, info) -> dict:
    """Per-layer metrics from the traced cycle's spans and event log."""
    import eventlog
    from measure import median
    from tracing import self_times

    spans = ctx.tracer.spans
    traces = os.path.join(os.getcwd(), ".perfbench-traces")
    os.makedirs(traces, exist_ok=True)
    ctx.tracer.dump(os.path.join(traces, f"{info['workload']}-{info['seed']}.jsonl"))
    jobs = eventlog.jobs_from_events(eventlog.read_events(ctx.event_log))
    ops = eventlog.per_op(jobs, spans)
    out = eventlog.summarize(ops, ctx.cores)
    out["plans.import_s"] = import_s
    out["setup.cold_s"] = import_s + cycle_s[0]
    # traced warm-up minus the same warm-up ops untraced, one cycle earlier
    out["trace.overhead_s"] = median(warm[-1]) - median(warm[-2])
    selfs = self_times(spans)
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s.duration)
    for name in ("session.get_spark", "plans.build", "plans.collect", "plans.golden_query",
                 "catalog.register", "catalog.refresh", "text.quality", "dedup.exact",
                 "dedup.minhash", "similarity.brute_force", "ivf.top_k", "ivf.train",
                 "ingest_stream.trigger", "csv_ingest.backfill"):
        if name in by_name:
            out[f"{name}_s"] = median(by_name[name])
    out["plans.build_jobs"] = eventlog.jobs_in_spans(jobs, spans, "plans.build")
    out["csv_ingest.jobs"] = eventlog.jobs_in_spans(jobs, spans, "csv_ingest.backfill")
    roots = eventlog.op_roots(spans)
    if roots:
        out["bench.op_self_s"] = median([selfs[r.span_id] for r in roots.values()])
    out["bench.fail_ratio"] = info["fail_ratio"]
    out.update(wl.layer_metrics())
    info["span_self_s"] = {
        name: round(sum(selfs[s.span_id] for s in spans if s.name == name), 4)
        for name in sorted(by_name)
    }
    info["spark_per_kind"] = per_kind_spark(ops, roots)
    return out


def per_kind_spark(ops: dict, roots: dict) -> dict:
    kinds: dict[str, list[dict]] = {}
    for op, sums in ops.items():
        kinds.setdefault(roots[op].name, []).append(sums)
    return {
        k: {m: round(sum(o.get(m, 0.0) for o in v) / len(v), 4)
            for m in ("jobs", "stages", "tasks", "driver_gap_s", "executor_run_s")}
        for k, v in sorted(kinds.items())
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and deletes its workspace
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
