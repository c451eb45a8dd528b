"""Per-layer metrics of a traced run, and the end-to-end metric each should move.

``LAYER_METRICS`` is the list ``BENCHMARK.json`` carries under ``per_layer``,
plus what ``BENCHMARK.json`` has no field for: the workload and end-to-end
metric each per-layer metric should move.  Times and counts are medians
over the warm operations of one traced run.  A metric that does not apply
to a workload reads 0 there (the daily workload runs no rail query; the
analytics workload makes no ``run()`` call).
"""

from __future__ import annotations

import statistics
import sys

import eventlog
from spans import DESC_PREFIX, self_time

DAILY_FIXED = "op_p50_s and cold_op_s on daily_small"
DAILY_MERGE = "op_p50_s and storage_amp as the daily_small lake grows"
ANALYTICS = "op_p50_s and peak_rss_mb on analytics"
STREAM = "setup_s on analytics (the set-up stream drain)"
EVERY = "op_p50_s on every workload"

#: name -> (unit, better, what it should move)
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "pipeline.extract_s": ("s", "lower", DAILY_FIXED),
    "pipeline.stations_s": ("s", "lower", DAILY_FIXED),
    "pipeline.run_self_s": ("s", "lower", DAILY_FIXED),
    "spark.jobs": ("count", "lower", DAILY_FIXED),
    "spark.scheduler_delay_s": ("s", "lower", DAILY_FIXED),
    "spark.busy_ratio": ("ratio", "higher", DAILY_FIXED),
    "pipeline.load_s": ("s", "lower", DAILY_MERGE),
    "pipeline.daily_stats_s": ("s", "lower", DAILY_MERGE),
    "operators.upsert.useful_ratio": ("ratio", "higher", DAILY_MERGE),
    "operators.insert_ignore.useful_ratio": ("ratio", "higher", DAILY_MERGE),
    "operators.daily_stats.useful_ratio": ("ratio", "higher", DAILY_MERGE),
    "lake.bytes_written": ("bytes", "lower", DAILY_MERGE),
    "lake.write_amp": ("ratio", "lower", DAILY_MERGE),
    "spark.shuffle_write_bytes": ("bytes", "lower", DAILY_MERGE),
    "spark.spill_bytes": ("bytes", "lower", DAILY_MERGE),
    "pipeline.artifacts_s": ("s", "lower", DAILY_FIXED),
    "pipeline.report_s": ("s", "lower", DAILY_FIXED),
    "cleaning.rows_in": ("count", "higher", DAILY_FIXED),
    "cleaning.rows_out": ("count", "higher", DAILY_FIXED),
    "cleaning.rejected": ("count", "lower", DAILY_FIXED),
    "rail.q1_s": ("s", "lower", ANALYTICS),
    "rail.q2_s": ("s", "lower", ANALYTICS),
    "rail.q3_s": ("s", "lower", ANALYTICS),
    "rail.q4_s": ("s", "lower", ANALYTICS),
    "rail.q5_s": ("s", "lower", ANALYTICS),
    "rail.q6_s": ("s", "lower", ANALYTICS),
    "rail.report_s": ("s", "lower", ANALYTICS),
    "rail.plan_s": ("s", "lower", ANALYTICS),
    "lake.files": ("count", "lower", ANALYTICS),
    "spark.shuffle_read_bytes": ("bytes", "lower", ANALYTICS),
    "streaming.batches": ("count", "lower", STREAM),
    "streaming.batch_p50_s": ("s", "lower", STREAM),
    "streaming.add_batch_s": ("s", "lower", STREAM),
    "streaming.framework_s": ("s", "lower", STREAM),
    "spark.tasks": ("count", "lower", EVERY),
    "spark.gc_s": ("s", "lower", EVERY),
    "spark.task_cpu_s": ("s", "lower", EVERY),
    "trace.overhead_s": ("s", "lower", "nothing: traced minus untraced op_p50_s"),
}


def _first(spans, name):
    return next((s for s in spans if s.name == name), None)


def _pipeline_times(op_spans) -> dict[str, float]:
    """Stage times of one ``run()`` from its spans.

    Two stages have no method of their own: the eager ``localCheckpoint``
    of the extract runs in ``run()`` between ``extract`` and ``transform``,
    and the report collect runs after the ``daily_stats`` commit.
    """
    run = _first(op_spans, "pipeline.run")
    if run is None:
        return {}
    ext, tr = _first(op_spans, "pipeline.extract"), _first(op_spans, "pipeline.transform")
    plan = _first(op_spans, "pipeline.daily_stats_plan")
    commit = _first(op_spans, "pipeline.commit.daily_stats")
    dur = lambda name: getattr(_first(op_spans, name), "duration", 0.0)  # noqa: E731
    return {
        "pipeline.extract_s": tr.start - ext.start,
        "pipeline.stations_s": dur("pipeline.ensure_stations"),
        "pipeline.load_s": dur("pipeline.load"),
        "pipeline.artifacts_s": dur("pipeline.write_run_artifacts"),
        "pipeline.daily_stats_s": commit.end - plan.start,
        "pipeline.report_s": run.end - commit.end,
        "pipeline.run_self_s": self_time(run, [s for s in op_spans if s.parent == run.id]),
    }


def layer_metrics(ctx, wl, times, op_roots, counts, n_cores) -> dict[str, tuple[float, str]]:
    log = eventlog.parse(ctx.path("eventlog"))
    spans = ctx.recorder.spans
    per_op = []
    for i, root in enumerate(op_roots):
        mine = [s for s in spans if s.op == root.id]
        tot = eventlog.Totals()
        for s in mine:
            t = log.by_desc.get(f"{DESC_PREFIX}{s.id}")
            if t is not None:
                tot.add(t)
        m = {
            "spark.jobs": tot.jobs,
            "spark.tasks": tot.tasks,
            "spark.gc_s": tot.gc_s,
            "spark.task_cpu_s": tot.cpu_s,
            "spark.scheduler_delay_s": tot.scheduler_delay_s,
            "spark.busy_ratio": tot.run_s / (n_cores * times[i]),
            "spark.shuffle_write_bytes": tot.shuffle_write_bytes,
            "spark.shuffle_read_bytes": tot.shuffle_read_bytes,
            "spark.spill_bytes": tot.spill_bytes,
            "lake.bytes_written": tot.output_bytes,
        }
        m.update(_pipeline_times(mine))
        if getattr(wl, "payload_sizes", None):
            m["lake.write_amp"] = tot.output_bytes / wl.payload_sizes[i]
        for s in mine:
            if s.name.startswith("rail.q") or s.name == "rail.report":
                m[f"{s.name}_s"] = s.duration
        builds = [s for s in mine if s.name == "rail.build"]
        if builds:
            m["rail.plan_s"] = sum(s.duration for s in builds)
        per_op.append(m)
    # every job an operation submits should carry a span tag
    windows = [((r.start + ctx.recorder.epoch_offset) * 1e3, (r.end + ctx.recorder.epoch_offset) * 1e3)
               for r in op_roots]
    untagged = sum(
        1 for desc, t in log.jobs.values()
        if desc is None and any(a <= t <= b for a, b in windows)
    )
    if untagged:
        print(f"[perfbench] warning: {untagged} jobs ran in operations without a span tag",
              file=sys.stderr)
    warm = per_op[1:] or per_op
    out = {}
    for name, (unit, _, _) in LAYER_METRICS.items():
        if name == "trace.overhead_s":
            continue
        if name in counts:
            value = counts[name]
        else:
            vals = [m[name] for m in warm if name in m]
            value = statistics.median(vals) if vals else 0.0
        out[name] = (value, unit)
    return out


def benchmark_entries() -> list[dict]:
    """``per_layer`` entries for ``BENCHMARK.json``."""
    return [
        {"name": n, "unit": u, "better": b} for n, (u, b, _) in LAYER_METRICS.items()
    ]


if __name__ == "__main__":
    for n, (u, b, moves) in LAYER_METRICS.items():
        print(f"{n:38s} {u:6s} {b:7s} {moves}")
