#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload ingest_fast --seed 1 --seconds 12 --trace 0

Batch, closed loop: one client runs one job or one query at a time on
``local[<cores>]``. Inputs come from ``--seed`` (``gen.py``); the engine only
sees the generated files. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of a
separate traced run (spans around the calls into each module plus Spark's
event log). Human-readable lines before it start with ``#``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("ingest_fast", "query_mix")
# Input size per workload: FAST entities across the eight files, and the
# registry-table scale (1.0 = 15,000 orders, 1,000 documents).
SIZES = {"ingest_fast": 4_000, "query_mix": 1.0}
SETUP_SAMPLES = 2  # process starts per run: this process and one probe
# Untimed runs after the cold, checked one. A fresh JVM keeps getting faster
# for several runs, steeply at first (query_mix: 13.0, 3.6, 2.9, 2.7, 2.5,
# 2.8, 2.8, 2.8, 2.2, 2.1 s; ingest_fast: 11.4, 4.1, 3.5, 3.5, 3.6, 3.5,
# 3.0, 3.1 s); timing starts past the steep part.
WARMUP_RUNS = {"ingest_fast": 3, "query_mix": 5}
MIN_RUNS = 3  # timed runs per invocation, even past --seconds
PREFIX_PASSES = 3  # traced ingest_fast layer decompositions

# ingest_fast's nested prefixes (span name, self-time metric), scan first.
PREFIX_LAYERS = (
    ("sources.nt.scan_parse", "sources.nt.scan_parse_s"),
    ("operators.fast_pipeline.filter", "operators.fast_pipeline.filter_s"),
    ("operators.fast_pipeline.aggregate", "operators.fast_pipeline.aggregate_s"),
    ("operators.fast_pipeline.enrich", "operators.fast_pipeline.enrich_s"),
    ("operators.fast_pipeline.merge", "operators.fast_pipeline.merge_s"),
)

END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "sources.nt.scan_parse_s": "s",
    "sources.nt.triples": "count",
    "sources.nt.dropped_lines": "count",
    "operators.fast_pipeline.filter_s": "s",
    "operators.fast_pipeline.records": "count",
    "operators.fast_pipeline.aggregate_s": "s",
    "operators.fast_pipeline.enrich_s": "s",
    "operators.fast_pipeline.enrich_hit_frac": "ratio",
    "operators.fast_pipeline.merge_s": "s",
    "operators.fast_pipeline.viaf_s": "s",
    "operators.fast_pipeline.viaf_match_frac": "ratio",
    "jobs.write_s": "s",
    "jobs.write_mb": "MB",
    "jobs.write_files": "count",
    "queries.build_s": "s",
    "queries.build_eager_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "materialize.count": "count",
    "materialize.s": "s",
    "catalog.read_parquet_calls": "count",
    "catalog.plan_cache_hit_frac": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "python.boot_init_s": "s",
    "python.exec_s": "s",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "jvm.peak_rss_mb": "MB",
    "jvm.jit_s": "s",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "trace.accounted_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def pin_env(event_log_dir: str | None) -> None:
    """The environment every Spark process of the run inherits."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local_dirs = os.path.join(WORK, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # Spark's Python workers import the engine too: sys.path is not enough.
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{event_log_dir}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                "pyspark-shell",
            ]
        )
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session():
    """The engine's session plus its first completed job."""
    from ingest_fast_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe() -> int:
    """Child-process mode: print seconds from process start to the first
    completed Spark job, then stop."""
    pin_env(None)
    spark = start_session()
    elapsed = time.perf_counter() - T_START
    stop_session(spark)
    print(f"{elapsed:.6f}")
    return 0


def probe_setup() -> float:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=120, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have spent so far (summed over their
    threads)."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1e3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. Steal is time the
    hypervisor gave this VM's CPUs to others; it stretches every wall time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def make_workload(name: str, spark, work: str, seed: int):
    import workloads

    if name == "ingest_fast":
        return workloads.IngestFast(spark, work, seed, SIZES[name])
    return workloads.QueryMix(spark, work, seed, SIZES[name])


def timed_runs(wl, ops, seconds: float) -> list[dict[str, float]]:
    """Timed runs until ``seconds`` have passed and at least MIN_RUNS ran;
    each successful one as its time per part."""
    runs = []
    deadline = time.perf_counter() + seconds
    attempts = 0
    while attempts < MIN_RUNS or time.perf_counter() < deadline:
        attempts += 1
        parts = wl.run_once(ops)
        if parts is not None:
            runs.append(parts)
    return runs


def typical_run_s(runs: list[dict[str, float]]) -> float:
    """Wall seconds of a typical run: the sum over the parts of a run (one
    per query, or the whole job) of each part's median over the runs. A
    stall in one query moves only that query's median."""
    return sum(statistics.median(r[part] for r in runs) for part in runs[0])


def env_summary(spark) -> str:
    import pyspark

    java = spark._jvm.java.lang.System.getProperty("java.version")
    return (
        f"cores={os.environ['SPARK_GRAFT_CPUS']} master={spark.sparkContext.master} "
        f"spark={pyspark.__version__} java={java} python={sys.version.split()[0]} "
        f"SPARK_LOCAL_DIRS={os.environ['SPARK_LOCAL_DIRS']} PYTHONPATH={os.environ['PYTHONPATH']}"
    )


def run_untraced(args, run_dir: str) -> tuple[dict, object]:
    import workloads

    t_probe = time.perf_counter()
    ticks = [cpu_ticks()]
    setups = [probe_setup() for _ in range(SETUP_SAMPLES - 1)]
    t0 = time.perf_counter()
    spark = start_session()
    setups.append((t_probe - T_START) + (time.perf_counter() - t0))
    ticks.append(cpu_ticks())
    try:
        log(env_summary(spark))
        wl = make_workload(args.workload, spark, run_dir, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        log(f"inputs generated in {time.perf_counter() - t0:.2f} s (seed {args.seed})")
        ops = workloads.Ops()
        t0 = time.perf_counter()
        workloads.warm_up(wl, ops, WARMUP_RUNS[args.workload])
        log(f"untimed runs (cold with output checks, then {WARMUP_RUNS[args.workload]} more): {time.perf_counter() - t0:.2f} s")
        ticks.append(cpu_ticks())
        runs = timed_runs(wl, ops, args.seconds)
        ticks.append(cpu_ticks())
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)
    if not runs:
        raise RuntimeError("no timed run succeeded: " + "; ".join(ops.problems)[:2000])
    run_s = typical_run_s(runs)
    log(f"setup samples (s): {[round(x, 3) for x in setups]}")
    log(f"timed runs (s): {[round(sum(r.values()), 3) for r in runs]}")
    log("median per part (s): " + ", ".join(f"{k} {statistics.median(r[k] for r in runs):.3f}" for k in runs[0]))
    log(
        f"host CPU steal: {steal_share(ticks[0], ticks[1]):.1%} during set-up, "
        f"{steal_share(ticks[2], ticks[3]):.1%} during the timed runs"
    )
    metrics = {
        # Host load only ever adds time to a start, so the least-loaded
        # sample is the steadiest estimate.
        "setup_s": min(setups),
        "run_s": run_s,
        "rows_per_s": wl.input_rows() / run_s,
    }
    for k, v in metrics.items():
        how = f"min of {len(setups)}" if k == "setup_s" else f"sum of per-part medians over {len(runs)} runs"
        log(f"{args.workload} {k} = {v:.4f} {END_TO_END[k]} ({how})")
    # Printed, not bounded: see README.md, "Why peak memory has no bound".
    log(f"{args.workload} peak_rss_mb = {rss:.1f} MB (JVM VmHWM after the timed runs)")
    return metrics, ops


def run_traced(args, run_dir: str, trace_dir: str) -> tuple[dict, object]:
    import eventlog
    import workloads
    from spans import CallCounter, Tracer

    from ingest_fast_spark import catalog

    spark = start_session()
    tracer = Tracer(spark.sparkContext)
    try:
        log(env_summary(spark))
        wl = make_workload(args.workload, spark, run_dir, args.seed)
        wl.generate()
        ops = workloads.Ops()
        workloads.warm_up(wl, ops, WARMUP_RUNS[args.workload])
        untraced, traced = [], {}
        dataframe_cls = type(spark.range(1))

        def untraced_once():
            parts = wl.run_once(ops)
            if parts is not None:
                untraced.append(parts)

        def traced_once():
            tid = tracer.new_trace()
            # The wrappers are part of the tracing overhead: untraced runs
            # go without them.
            checkpoint = CallCounter(dataframe_cls, "localCheckpoint")
            parquet = CallCounter(catalog, "read_parquet", track_hits=True)
            jit_before = jit_s(spark)
            with checkpoint, parquet:
                parts = wl.run_once(ops, tracer=tracer)
            jit_after = jit_s(spark)
            if parts is not None:
                traced[tid] = {
                    "parts": parts,
                    "run_s": sum(parts.values()),
                    "materialize.count": checkpoint.calls,
                    "materialize.s": checkpoint.seconds,
                    "catalog.read_parquet_calls": parquet.calls,
                    "catalog.plan_cache_hit_frac": parquet.hits / parquet.calls if parquet.calls else 0.0,
                    "jvm.jit_s": jit_after - jit_before,
                }

        deadline = time.perf_counter() + args.seconds
        pairs = 0
        while pairs < MIN_RUNS - 1 or time.perf_counter() < deadline:
            # Alternate which side of a pair runs first.
            first, second = (untraced_once, traced_once) if pairs % 2 == 0 else (traced_once, untraced_once)
            first()
            second()
            pairs += 1
        rss = peak_rss_mb(spark)
        prefix_traces = []
        counts = {}
        if isinstance(wl, workloads.IngestFast):
            for _ in range(PREFIX_PASSES):
                prefix_traces.append(tracer.new_trace())
                for layer, build in wl.prefixes():
                    workloads.clear_cache(spark)
                    with tracer.span(layer):
                        for df in build():
                            workloads.noop(df)
                written = wl.timed_write(tracer)
            counts = wl.layer_counts(ops)
            log(f"jobs.write: {written} part files from the timed write, {counts['jobs.write_files']:.0f} from run_ingest")
        counts["jvm.peak_rss_mb"] = rss
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
    finally:
        stop_session(spark)
    tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
    logs = [os.path.join(trace_dir, "eventlog", f) for f in os.listdir(os.path.join(trace_dir, "eventlog"))]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    metrics, problems = layer_metrics(tracer, eventlog.parse(logs[0]), untraced, traced, prefix_traces, counts, cores)
    if prefix_traces:
        ops.run("prefix self times", lambda: problems, lambda found: found)
    log(f"untraced runs (s): {[round(sum(r.values()), 3) for r in untraced]}")
    log(f"traced runs (s): {[round(v['run_s'], 3) for v in traced.values()]}")
    log(f"spans and event log kept in {os.path.relpath(trace_dir, ROOT)}")
    for k, v in metrics.items():
        log(f"{args.workload} {k} = {v:.4f} {PER_LAYER[k]}")
    return metrics, ops


def layer_metrics(tracer, ev, untraced, traced, prefix_traces, counts, cores) -> tuple[dict, list[str]]:
    """Per-layer metrics, each the median over the traced runs (the ingest
    layer times come from the prefix passes instead), and the problems the
    prefix self times show."""
    from spans import prefix_self_times, union_length

    med = statistics.median
    problems: list[str] = []
    per_run = []
    for tid, rec in traced.items():
        spans = tracer.in_trace(tid)
        tot = ev.summarize(sp.group for sp in spans)
        build = [sp for sp in spans if sp.name == "queries.build"]
        build_ev = ev.summarize(sp.group for sp in build)
        task_s = tot.get("run_ms", 0.0) / 1e3
        per_run.append(
            {
                "queries.build_s": sum(sp.duration for sp in build),
                "queries.build_eager_s": union_length(build_ev["job_intervals"]),
                "queries.build_jobs": float(build_ev["jobs"]),
                "queries.exec_s": sum(sp.duration for sp in spans if sp.name == "queries.exec"),
                "materialize.count": float(rec["materialize.count"]),
                "materialize.s": rec["materialize.s"],
                "catalog.read_parquet_calls": float(rec["catalog.read_parquet_calls"]),
                "catalog.plan_cache_hit_frac": rec["catalog.plan_cache_hit_frac"],
                "spark.jobs": float(tot["jobs"]),
                "spark.stages": float(tot["stages"]),
                "spark.tasks": float(tot["tasks"]),
                "spark.task_s": task_s,
                "spark.core_busy_frac": task_s / (rec["run_s"] * cores),
                "spark.gc_s": tot.get("gc_ms", 0.0) / 1e3,
                "spark.shuffle_write_mb": tot.get("shuffle_write_bytes", 0.0) / 1e6,
                "spark.shuffle_read_mb": tot.get("shuffle_read_bytes", 0.0) / 1e6,
                "spark.spill_mb": tot.get("spill_bytes", 0.0) / 1e6,
                "spark.failed_tasks": float(tot["failed_tasks"]),
                "python.boot_init_s": tot.get("py_boot_s", 0.0) + tot.get("py_init_s", 0.0),
                "python.exec_s": tot.get("py_exec_s", 0.0),
                "python.mb_sent": tot.get("py_sent_bytes", 0.0) / 1e6,
                "python.mb_received": tot.get("py_received_bytes", 0.0) / 1e6,
                "trace.run_s": rec["run_s"],
                "jvm.jit_s": rec["jvm.jit_s"],
            }
        )
    out = {k: 0.0 for k in PER_LAYER}
    if per_run:
        out.update({k: med([r[k] for r in per_run]) for k in per_run[0]})
        # Computed as the end-to-end run_s is, so the overhead compares like with like.
        out["trace.run_s"] = typical_run_s([rec["parts"] for rec in traced.values()])
    out.update(counts)
    out["trace.untraced_run_s"] = typical_run_s(untraced) if untraced else 0.0
    out["trace.overhead_s"] = out["trace.run_s"] - out["trace.untraced_run_s"]
    accounted = out["queries.build_s"] + out["queries.exec_s"]
    if prefix_traces:
        passes = [{sp.name: sp.duration for sp in tracer.in_trace(tid)} for tid in prefix_traces]
        own, problems = prefix_self_times(passes, [layer for layer, _ in PREFIX_LAYERS])
        out.update({metric: own[layer] for layer, metric in PREFIX_LAYERS})
        # Timed whole, not as a difference: the minimum over the passes.
        out["operators.fast_pipeline.viaf_s"] = min(p["operators.fast_pipeline.viaf"] for p in passes)
        out["jobs.write_s"] = min(p["jobs.write"] for p in passes)
        # Each term is measured on its own, so the sum can miss run_ingest.
        accounted = sum(out[m] for _, m in PREFIX_LAYERS)
        accounted += out["operators.fast_pipeline.viaf_s"] + out["jobs.write_s"]
    if out["trace.untraced_run_s"]:
        out["trace.accounted_frac"] = accounted / out["trace.untraced_run_s"]
    return out, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ingest_fast_spark", "__init__.py")):
        print(f"engine package ingest_fast_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.setup_probe:
        return setup_probe()
    if args.workload is None:
        ap.error("--workload is required")

    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    pin_env(os.path.join(trace_dir, "eventlog") if args.trace else None)
    try:
        if args.trace:
            metrics, ops = run_traced(args, run_dir, trace_dir)
            units = PER_LAYER
        else:
            metrics, ops = run_untraced(args, run_dir)
            units = END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in ops.problems:
        log(f"FAILED {p}")
    log(f"{args.workload} failed_frac = {ops.failed / max(ops.attempted, 1):.4f} ({ops.failed} of {ops.attempted} operations)")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
