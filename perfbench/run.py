"""Benchmark of the daily rail ETL and its analytics, end to end and per layer.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload daily_small --seed 1 --seconds 12 --trace 0

One process, one caller, operations back to back (a closed loop), Spark on
``local[<cores>]``.  The first operation after set-up is timed on its own
(``cold_op_s``: the daily cron starts a fresh process every day); operations
then repeat until ``--seconds`` have passed, and at least ``MIN_WARM_OPS``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log, wraps the program's layer entry points in spans, and prints the
per-layer metrics instead.  Either way the last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Times are wall-clock seconds.  The ``#`` lines also print each
operation's CPU seconds (driver, JVM and Python workers) and how busy the
machine was with other work during the operations: on a machine shared
with other tenants that explains a slow run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "nl_railtraffic_etl_pipeline_spark"
#: Driver heap for a 4-core, 15 GB box; ``session.py`` defaults to 90g.
DRIVER_MEM = "3g"
MIN_WARM_OPS = 2
#: How many untraced ``op_p50_s`` values per workload the overhead uses.
OVERHEAD_HISTORY = 10


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 values beyond it.

    With fewer than 11 values no percentile qualifies; the maximum is
    reported and labelled p100.
    """
    xs, n = sorted(values), len(values)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Context:
    def __init__(self, seed: int, traced: bool, work: str):
        self.seed = seed
        self.traced = traced
        self.work = work
        self.lake = os.path.join(work, "lake")
        self.spark = None
        self.recorder = None

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p


def _spark_conf(ctx: Context) -> dict[str, str]:
    # Spark, its JVM and its Python workers write scratch files only here
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["TMPDIR"] = ctx.path("tmp")
    conf = {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}",
    }
    if ctx.traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _install_wrappers(rec) -> None:
    from nl_railtraffic_etl_pipeline_spark import pipeline
    from nl_railtraffic_etl_pipeline_spark.operators import rollup
    from nl_railtraffic_etl_pipeline_spark.plans import rail_queries

    cls = pipeline.SparkETLPipeline
    for attr in ("run", "extract", "transform", "load", "ensure_stations",
                 "write_run_artifacts", "report"):
        rec.wrap(cls, attr, f"pipeline.{attr}")
    rec.wrap(cls, "_overwrite", lambda self, zone, df: f"pipeline.commit.{zone}")
    rec.wrap(pipeline, "build_daily_stats", "pipeline.daily_stats_plan")
    for fn in ("rolling_trend", "station_severity", "day_over_day", "peak_hours",
               "complex_analytics", "overlapping_disruptions"):
        rec.wrap(rail_queries, fn, "rail.build")
    rec.wrap(rollup, "run_report", "rail.build")


def _stop_spark() -> None:
    """Stop the session, if one started, and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def _history_file(workload: str) -> str:
    return os.path.join(WORK, f"untraced_{workload}.json")


def _load_history(workload: str) -> list[float]:
    try:
        with open(_history_file(workload), encoding="utf-8") as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return []


def _remember_untraced(workload: str, op_p50: float) -> None:
    hist = (_load_history(workload) + [op_p50])[-OVERHEAD_HISTORY:]
    with open(_history_file(workload), "w", encoding="utf-8") as fh:
        json.dump(hist, fh)


def _untraced_p50(args) -> float:
    """Median untraced ``op_p50_s`` of recent runs of this workload.

    When no untraced run has been recorded in this checkout, one is made
    now in a child process with the same arguments.
    """
    hist = _load_history(args.workload)
    if not hist:
        import subprocess

        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, capture_output=True, timeout=170,
        )
        hist = _load_history(args.workload)
    return statistics.median(hist)


def run(args, ctx: Context, t_start: float) -> dict:
    from nl_railtraffic_etl_pipeline_spark.session import get_spark

    import spans
    from sysmon import PeakRss, machine_cpu_s, tree_cpu_s
    from workloads import WORKLOADS, log

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=_spark_conf(ctx))
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    if ctx.traced:
        ctx.recorder = spans.Recorder(spark)
        _install_wrappers(ctx.recorder)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def tagged_check(fn, *a):
        # check jobs carry their own tag, so no op is charged for them
        if ctx.traced:
            spark.sparkContext.setLocalProperty("spark.job.description", "bench:check")
        try:
            return fn(*a)
        finally:
            if ctx.traced:
                spark.sparkContext.setLocalProperty("spark.job.description", None)

    wl = WORKLOADS[args.workload](ctx)
    times, op_spans, failures = [], [], []
    try:
        with PeakRss(jvm_pid) as rss:
            wl.setup()
            setup_s = time.perf_counter() - t_start
            log(f"set-up done in {setup_s:.2f} s")
            deadline = None
            machine0, mine0, cpu_cost = machine_cpu_s(), tree_cpu_s(jvm_pid) + _self_cpu_s(), []
            while deadline is None or time.perf_counter() < deadline or len(times) < 1 + MIN_WARM_OPS:
                prepared = wl.prepare(len(times))
                span = ctx.recorder.begin_op(f"op{len(times)}") if ctx.traced else None
                t0, c0 = time.perf_counter(), tree_cpu_s(jvm_pid) + _self_cpu_s()
                try:
                    result, error = wl.op(prepared), None
                except Exception:  # an operation that fails is counted, not fatal
                    result, error = None, traceback.format_exc()
                times.append(time.perf_counter() - t0)
                cpu_cost.append(tree_cpu_s(jvm_pid) + _self_cpu_s() - c0)
                log(f"op{len(times) - 1} {times[-1]:.3f} s{' FAILED' if error else ''}")
                if ctx.traced:
                    ctx.recorder.end_op(span)
                    op_spans.append(span)
                errs = [error] if error else tagged_check(wl.check_op, prepared, result)
                failures.append(errs)
                if deadline is None:
                    deadline = time.perf_counter() + args.seconds
            machine1, mine1 = machine_cpu_s(), tree_cpu_s(jvm_pid) + _self_cpu_s()
            t0 = time.perf_counter()
            end_errs = tagged_check(wl.check_end)
            log(f"end checks {time.perf_counter() - t0:.2f} s")
            storage_amp = tagged_check(wl.storage_amp)
            counts = tagged_check(wl.layer_counts)
    finally:
        _stop_spark()
    if end_errs:
        failures[-1] = failures[-1] + end_errs
    for i, errs in enumerate(failures):
        for e in errs:
            print(f"FAILED op{i}: {e}", file=sys.stderr)

    warm = times[1:]
    op_p50 = statistics.median(warm)
    tail_v, tail_p, tail_n = tail(warm)
    failed = sum(1 for errs in failures if errs)
    others = machine1[0] - machine0[0] - (mine1 - mine0)
    busy = others / max(1e-9, machine1[1] - machine0[1])
    print(f"# {args.workload} seed={args.seed} trace={int(ctx.traced)} ops={len(times)} "
          f"wall_s={[round(t, 3) for t in times]} cpu_s={[round(c, 3) for c in cpu_cost]} "
          f"setup_wall_s={setup_s:.3f}")
    print(f"# machine CPU busy with other work during the ops: {100 * busy:.1f} %")
    print(f"# op_tail_s is p{tail_p:.0f} of n={tail_n} warm ops"
          + (" (fewer than 11: the maximum)" if tail_n < 11 else ""))
    out = {"correct": failed == 0, "attempted": len(times), "failed": failed}
    if not ctx.traced:
        _remember_untraced(args.workload, op_p50)
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_op_s": (times[0], "s"),
            "op_p50_s": (op_p50, "s"),
            "op_tail_s": (tail_v, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "storage_amp": (storage_amp, "ratio"),
        }
    else:
        from layers import layer_metrics

        metrics = layer_metrics(ctx, wl, times, op_spans, counts, cores())
        metrics["trace.overhead_s"] = (op_p50 - _untraced_p50(args), "s")
    for name, (value, unit) in metrics.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="rail ETL benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"error: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # Spark's Python workers import the package too, from any directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_MASTER", None)
    t_start = time.perf_counter()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = run(args, Context(args.seed, bool(args.trace), work), t_start)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
