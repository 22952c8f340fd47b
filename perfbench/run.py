"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload sync_snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. pins its environment before the program is imported (``local[nproc]``,
   Python workers that can import the package, UTC, every file it writes
   under ``.perfbench_work/``);
2. sets up ``SETUP_REPS`` times (session start, input generation, warm-up)
   and reports the median as ``setup_s``;
3. runs the workload's untimed warm-up unit, if it has one, then its
   measured units (sync rounds or catalog passes) as a closed loop until
   ``--seconds`` have passed and at least the workload's ``min_units`` have
   run (units are indivisible, and the minimum outlasts the 10 s
   BENCHMARK.json asks for, so it fixes the work of a run);
4. checks every output (``workloads.py``) and counts failed operations;
5. prints one JSON report line with every metric, its unit and sample
   count, the failures and the host stamps, then the result line.

With ``--trace 0`` the result carries the end-to-end metrics, measured with
tracing off. With ``--trace 1`` it carries the per-layer metrics of a traced
run (``tracing.py``); ``trace.round_s`` there, set against ``round_p50_s``
of an untraced run of the same seed, is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))
SETUP_REPS = 3

E2E = {
    "setup_s": "s",
    "round_p50_s": "s",
    "op_geomean_s": "s",
    "slowest_op_p50_s": "s",
}
PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.job_wall_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.noop_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "driver.materialize_s": "s",
    "driver.rows": "count",
    "sync.jobs": "count",
    "sync.diff_s": "s",
    "sync.write_s": "s",
    "sync.validate_s": "s",
    "sync.changed_rows": "count",
    "sync.rows_written": "count",
    "sync.write_amp": "ratio",
    "sync.bytes_written_mb": "MB",
    "trace.round_s": "s",
    "trace.unattributed_s": "s",
}


def check_benchmark_json(path: str) -> list[str]:
    """Differences between the metrics this file prints and BENCHMARK.json."""
    with open(path) as fh:
        spec = json.load(fh)
    problems = []
    for key, ours in (("end_to_end", E2E), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in spec[key]}
        if theirs != ours:
            problems.append(f"{key}: BENCHMARK.json {theirs} != run.py {ours}")
    return problems


def pin_environment() -> None:
    """Must run before the program is imported: session.py reads
    SPARK_GRAFT_CPUS at import time, Python workers inherit PYTHONPATH."""
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(1, ROOT)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def yardstick_s(spark) -> float:
    """A fixed Spark-shaped shuffle-plus-aggregate, median of three."""
    from pyspark.sql import functions as F

    df = (spark.range(0, 5_000_000, numPartitions=NPROC)
          .groupBy((F.col("id") % 20_011).alias("k")).agg(F.sum("id").alias("s")))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def e2e_metrics(setup: list[float], units: list) -> tuple[dict[str, float], dict[str, int]]:
    """The end-to-end metrics and their sample counts.

    Ops of a unit are a fixed mix (ten tables, or the catalog qids) whose
    costs differ by up to 10x, so a raw percentile over 10 to 16 op
    samples jumps between ops; the geometric mean over all op samples and
    the median of the slowest op are the steady summaries."""
    by_name: dict[str, list[float]] = {}
    for op in (op for u in units for op in u.ops):
        by_name.setdefault(op.name, []).append(op.seconds)
    op_s = [s for v in by_name.values() for s in v]
    slowest = max(by_name, key=lambda k: statistics.median(by_name[k]))
    values = {
        "setup_s": statistics.median(setup),
        "round_p50_s": statistics.median(u.seconds for u in units),
        "op_geomean_s": statistics.geometric_mean(op_s),
        "slowest_op_p50_s": statistics.median(by_name[slowest]),
    }
    samples = {"setup_s": len(setup), "round_p50_s": len(units), "op_geomean_s": len(op_s),
               "slowest_op_p50_s": len(by_name[slowest])}
    return values, samples


def op_percentiles(op_s: list[float]) -> dict[str, float | int | None]:
    """Raw op-time percentiles for the report: the median, and the highest
    percentile with at least ten samples beyond it (none below 20 samples)."""
    n = len(op_s)
    out: dict[str, float | int | None] = {"n": n, "p50_s": statistics.median(op_s),
                                          "tail_pct": None, "tail_s": None}
    if n >= 20:
        pct = int(100 * (n - 10) / n)
        out["tail_pct"] = pct
        out["tail_s"] = statistics.quantiles(op_s, n=100, method="inclusive")[pct - 1]
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from hdc_dataengineering_sqlsync_spark.session import get_session

    import tracing
    from workloads import WORKLOADS

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.makedirs(os.environ["TMPDIR"])
    wl = WORKLOADS[workload](os.path.join(WORK, "data"), seed)
    tracer = tracing.Tracer() if trace else tracing.NullTracer()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"],
    }
    log_dir = os.path.join(WORK, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf.update(tracing.event_log_conf(log_dir))

    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    setup, starts, warms = [], [], []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_session(app_name=f"perfbench-{workload}", extra_conf=conf)
            starts.append(time.perf_counter() - t)
            wl.prepare()
            t = time.perf_counter()
            wl.warmup(spark)
            warms.append(time.perf_counter() - t)
            setup.append(time.perf_counter() - t0)

        # an untimed warm-up unit, numbered 0: its outputs are checked, its
        # times are not metrics
        warm = [wl.run_unit(spark, 0, tracing.NullTracer())] if wl.warmup_unit else []
        units = []
        t_start = time.perf_counter()
        while len(units) < wl.min_units or time.perf_counter() - t_start < seconds:
            units.append(wl.run_unit(spark, len(units) + 1, tracer))
        measured_s = time.perf_counter() - t_start

        # jobs after the loop run outside every traced group
        tracer.set_group(spark, "after")
        extra = wl.finish(spark, warm + units)
        yard = yardstick_s(spark)
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
    ticks_after = cpu_ticks()

    ops = [op for u in warm + units for op in u.ops]
    unit_s = [u.seconds for u in units]
    if trace:
        stats = tracing.read_event_log(os.path.join(log_dir, app_id))
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.layers(units, stats, tracer))
        metrics.update({
            "session.cold_start_s": starts[0],
            "session.start_s": statistics.median(starts),
            "session.warmup_s": statistics.median(warms),
            "trace.round_s": statistics.median(unit_s),
        })
        units_of = {"session.cold_start_s": 1, "session.start_s": len(starts),
                    "session.warmup_s": len(warms)}
        samples = {k: units_of.get(k, len(units)) for k in PER_LAYER}
        spec = PER_LAYER
    else:
        metrics, samples = e2e_metrics(setup, units)
        spec = E2E
    if set(metrics) != set(spec):
        raise RuntimeError(f"metric names drifted: {sorted(set(metrics) ^ set(spec))}")

    failed = [op for op in ops if op.problems]
    failures: dict[str, dict] = {}
    for op in failed:
        entry = failures.setdefault(op.name, {"count": 0, "problems": []})
        entry["count"] += 1
        entry["problems"] += [p for p in op.problems if p not in entry["problems"]]
    steal = ticks_after[0] - ticks_before[0]
    total = max(ticks_after[1] - ticks_before[1], 1)
    report = {
        "workload": workload, "seed": seed, "trace": int(trace), "nproc": NPROC,
        "sf": wl.sf, "unit": wl.unit_name, "units": len(units), "measured_s": measured_s,
        "metrics": {k: {"value": metrics[k], "unit": spec[k], "n": samples[k]} for k in spec},
        "failed_frac": {"value": len(failed) / len(ops), "n": len(ops)},
        "op_percentiles": op_percentiles([op.seconds for u in units for op in u.ops]),
        "peak_rss_mb": rss,
        "failures": failures,
        **extra,
        "host": {
            "steal_pct": 100.0 * steal / total,
            "loadavg_before": load_before[0], "loadavg_after": os.getloadavg()[0],
            "yardstick_s": yard,
        },
        "setup_reps_s": setup,
        "warmup_unit_s": [u.seconds for u in warm],
        "unit_s": unit_s,
        "op_s": {name: [op.seconds for u in units for op in u.ops if op.name == name]
                 for name in dict.fromkeys(op.name for op in ops)},
    }
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": spec[k]} for k in spec},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pin_environment()
    try:
        import hdc_dataengineering_sqlsync_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path) and (problems := check_benchmark_json(spec_path)):
        print("perfbench: " + "; ".join(problems), file=sys.stderr)
        return 2
    try:
        report, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
