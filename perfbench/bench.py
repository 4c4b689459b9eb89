"""Benchmark driver: set-up, measured passes and the result line.

See ``run.py`` for the command line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_dla_kinesis_delivery_stream_example_spark"
WORKLOADS = ("delivery", "catalog")
MIN_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_settings(scratch: str) -> dict[str, str]:
    """Fit Spark to this host through the program's own settings: one
    task slot per CPU this process may use, a driver heap of a quarter
    of RAM (1 to 2 GB), and private scratch directories."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(2, mem_kb // (4 * 2**20)))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
    }


def start_spark(scratch: str, master: str | None = None):
    from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # A fixed, pre-touched heap: the GC's heap sizing would
            # otherwise move the process memory by hundreds of MB from
            # run to run, drowning what the program itself holds.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData"  # no hsperfdata file in the shared /tmp
                # The JIT's first tier only. A run lives about a minute;
                # the optimising tier would still be compiling through
                # every measured pass, on up to two CPUs, and each pass's
                # cost would depend on how far it had got.
                " -XX:TieredStopAtLevel=1"
                # A fixed set of JIT compiler threads, so that their CPU
                # can be told apart from the program's (census.tree_cpu_s).
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def measure(workload, spark, seconds: float, traced_pass=None):
    """Whole passes until ``seconds`` have elapsed (at least
    ``MIN_PASSES``); returns them, the traced passes, and per untraced
    pass its peak process-tree memory, the CPU seconds the process tree
    spent on the program's work and those its JIT compiler spent. With
    ``traced_pass``, each round runs one untraced and one traced pass,
    the order alternating from round to round, so the tracing overhead
    is not confounded with warm-up drift."""
    from .census import RssSampler

    passes, traced = [], []
    usage: dict[str, list[float]] = {"peak_rss_mb": [], "cpu_s": [], "jit_cpu_s": []}

    def untraced():
        rss.take_peak_mb()
        cpu0, jit0 = rss.work_cpu_s()
        passes.append(workload.run_pass(spark))
        cpu1, jit1 = rss.work_cpu_s()
        usage["peak_rss_mb"].append(rss.take_peak_mb())
        usage["cpu_s"].append(cpu1 - cpu0)
        usage["jit_cpu_s"].append(jit1 - jit0)

    def trace():
        traced.append(traced_pass())

    rounds = [[untraced]] if traced_pass is None else [[untraced, trace], [trace, untraced]]
    min_rounds = MIN_PASSES if traced_pass is None else 1
    t_end = time.perf_counter() + seconds
    with RssSampler() as rss:
        i = 0
        while i < min_rounds or time.perf_counter() < t_end:
            for step in rounds[i % len(rounds)]:
                step()
            i += 1
    return passes, traced, usage


def execute(args, scratch: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    from . import census as C
    from .trace import RunListener, Tracer
    from .workloads import Probe, make_workload

    workload = make_workload(args.workload, scratch)
    t_import = time.perf_counter() - t0
    t0 = time.perf_counter()
    workload.prepare(args.seed)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_spark(scratch)
    session_s = time.perf_counter() - t0 + t_import
    try:
        t0 = time.perf_counter()
        workload.expect()  # correctness gate, outside every timed region
        expect_s = time.perf_counter() - t0
        listener = RunListener()
        spark.streams.addListener(listener)
        t0 = time.perf_counter()
        warm_probe = Probe(spark, Tracer(), listener)
        warm = workload.run_pass(spark, warm_probe)
        warm_s = time.perf_counter() - t0
        if hasattr(workload, "records_per_pass"):
            workload.records_per_pass = int(warm_probe.census.totals["input_records"])
        if not args.trace:
            # The listener calls back into this process on every progress
            # event, competing with the measured passes for the GIL.
            spark.streams.removeListener(listener)
        setup_s = session_s + gen_s + warm_s

        tracer = Tracer()
        probes: list = []

        def traced_pass():
            probe = Probe(spark, tracer, listener)
            with tracer.span("bench.pass", workload=args.workload):
                result = workload.run_pass(spark, probe)
            probes.append(probe)
            return result

        cpu0 = C.cpu_row()
        passes, traced, usage = measure(
            workload, spark, args.seconds, traced_pass if args.trace else None
        )
        canary = C.host_canary(cpu0, C.cpu_row())
        everything = [warm, *passes, *traced]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": len(passes),
            "speed": speed_metrics(passes, usage),
            "pass_s": [p.wall_s for p in passes],
            **usage,
            "steps": [p.detail for p in passes],
            "setup": {"session_s": session_s, "inputs_s": gen_s, "warmup_s": warm_s},
            "oracle_s": expect_s,
            "leaks_per_pass": [
                {"sq_views": p.leaked_views, "staged_elsewhere": p.staged_leaks} for p in everything
            ],
            "host": canary,
            "settings": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        }
        if args.trace:
            baseline = None
            if args.workload == "delivery":
                # Same JVM (its JIT state stays warm), new context on one
                # core; one pass warms its Python workers, the next is timed.
                spark.stop()
                spark = start_spark(scratch, master="local[1]")
                everything += [workload.run_pass(spark), workload.run_pass(spark)]
                baseline = everything[-1].records / everything[-1].wall_s
            metrics = per_layer_metrics(passes, usage, traced, probes, tracer, session_s, baseline)
            out_dir = os.path.join(ROOT, "perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), detail
            )
        else:
            metrics = end_to_end_metrics(setup_s, usage)
        result = {
            "correct": all(p.failed == 0 for p in everything),
            "attempted": sum(p.attempted for p in everything),
            "failed": sum(p.failed for p in everything),
            "metrics": metrics,
        }
        return detail, result
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        print(f"perfbench: session stopped in {time.perf_counter() - t0:.1f} s", file=sys.stderr)


def end_to_end_metrics(setup_s: float, usage: dict[str, list[float]]) -> dict:
    """Set-up time and the median over passes of a pass's peak memory.
    A pass's speed is in :func:`speed_metrics`, not here: on a shared VM
    its wall and CPU time follow the host's load, and two sets of runs
    of the same code do not agree on it within an end-to-end bound."""
    from .census import median

    values = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (median(usage["peak_rss_mb"]), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def speed_metrics(passes, usage: dict[str, list[float]]) -> dict:
    """Medians over the untraced passes: wall time of a pass, records
    per second of it, step latency (a step is one catalog query or one
    delivery flush) and the CPU seconds a pass costs the process tree,
    its JIT compiler left out."""
    from .census import geomean, median, percentile

    steps = [s for p in passes for s in p.steps_ms]
    values = {
        "pass_s": (median([p.wall_s for p in passes]), "s"),
        "rec_per_s": (median([p.records / p.wall_s for p in passes]), "rec/s"),
        "step_ms_p50": (percentile(steps, 50), "ms"),
        "step_ms_geomean": (geomean(steps), "ms"),
        "pass_cpu_s": (median(usage["cpu_s"]), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "plans.build_s": "s",
    "plans.collect_s": "s",
    "plans.leaked_views": "count",
    "operators.staged_released": "count",
    "operators.staged_leaks": "count",
    "spark.jobs": "count",
    "spark.jobs_caller_group": "count",
    "spark.jobs_stream_group": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.s3.batches": "count",
    "streaming.s3.add_batch_ms": "ms",
    "streaming.oss.batches": "count",
    "streaming.oss.add_batch_ms": "ms",
    "streaming.bulk_index_ms": "ms",
    "streaming.sink_files.backup": "count",
    "streaming.sink_files.success": "count",
    "streaming.sink_files.failed": "count",
    "streaming.sink_files.documents": "count",
    **{
        f"self_s.{span}": "s"
        for span in (
            "bench.pass",
            "plans.build",
            "plans.collect",
            "operators.release",
            "delivery.run",
            "delivery.stream",
            "streaming.batch",
            "streaming.doc_sink",
            "spark.job",
        )
    },
    "bench.pass_s": "s",
    "bench.rec_per_s": "rec/s",
    "bench.step_ms_p50": "ms",
    "bench.step_ms_geomean": "ms",
    "bench.pass_cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "baseline.local1_rec_per_s": "rec/s",
}


def per_layer_metrics(
    passes, usage, traced, probes, tracer, session_s: float, local1_rec_per_s
) -> dict:
    """Per-layer numbers of the traced passes, each per pass. Layers a
    workload does not touch read 0. ``trace.overhead_s`` is the median
    traced pass minus the median untraced pass of the same run;
    ``bench.*`` are :func:`speed_metrics` and ``jvm.jit_cpu_s`` the
    median JIT CPU of the untraced passes."""
    from .census import Census, interval_union, median

    n = len(traced)
    census = Census()
    counters: dict[str, float] = {}
    for probe in probes:
        census.add(probe.census)
        for k, v in probe.counters.items():
            counters[k] = counters.get(k, 0) + v
    t = census.totals
    busy = interval_union(census.intervals)
    span_s: dict[str, float] = {}
    for s in tracer.spans:
        span_s[s.name] = span_s.get(s.name, 0.0) + (s.end - s.start)
    values = {
        **{k: v / n for k, v in counters.items()},
        "sources.input_bytes": t["input_bytes"] / n,
        "sources.input_records": t["input_records"] / n,
        "plans.build_s": span_s.get("plans.build", 0.0) / n,
        "plans.collect_s": span_s.get("plans.collect", 0.0) / n,
        "plans.leaked_views": sum(p.leaked_views for p in traced) / n,
        "operators.staged_released": sum(p.staged_released for p in traced) / n,
        "operators.staged_leaks": sum(p.staged_leaks for p in traced) / n,
        "spark.jobs": census.jobs / n,
        "spark.jobs_caller_group": census.jobs_caller / n,
        "spark.jobs_stream_group": census.jobs_stream / n,
        "spark.stages": census.stages / n,
        "spark.tasks": t["tasks"] / n,
        "spark.job_busy_s": busy / n,
        "spark.driver_gap_s": (sum(p.wall_s for p in traced) - busy) / n,
        "spark.executor_run_s": t["executor_run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": t["executor_cpu_ns"] / 1e9 / n,
        "spark.gc_s": t["gc_ms"] / 1e3 / n,
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"] / n,
        **{f"self_s.{k}": v / n for k, v in tracer.self_times().items()},
        **{f"bench.{k}": v["value"] for k, v in speed_metrics(passes, usage).items()},
        "jvm.jit_cpu_s": median(usage["jit_cpu_s"]),
        "trace.overhead_s": median([p.wall_s for p in traced]) - median([p.wall_s for p in passes]),
        "trace.spans": len(tracer.spans) / n,
        "session.start_s": session_s,
        "baseline.local1_rec_per_s": local1_rec_per_s or 0.0,
    }
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # scratch directory removed in the finally blocks below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_utils.py")
    ):
        print(f"perfbench: no program sources ({PACKAGE}/, tests/) under {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, "perfbench", ".scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = host_settings(scratch)
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[d], exist_ok=True)
    os.environ.update(settings)
    tempfile.tempdir = settings["TMPDIR"]
    try:
        detail, result = execute(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0
