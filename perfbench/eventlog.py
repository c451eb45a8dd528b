"""Offline reader for Spark's JSON event log (no UI, no network).

The traced run writes the log with ``spark.eventLog.enabled`` to a directory
the benchmark owns.  This module reads it after the session stops and sums
task metrics per ``spark.job.description`` (the span tag ``bench:<id>`` the
wrappers in ``spans.py`` set).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

METRIC_FIELDS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


@dataclass
class Totals:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "Totals") -> None:
        self.jobs += other.jobs
        for name in METRIC_FIELDS:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class EventLog:
    #: job id -> (description or None, submission epoch ms)
    jobs: dict[int, tuple[str | None, int]] = field(default_factory=dict)
    #: description (None for untagged) -> summed task metrics of its stages
    by_desc: dict[str | None, Totals] = field(default_factory=lambda: defaultdict(Totals))


def _task_totals(ev: dict) -> Totals:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    # The UI's definition: time a task spent neither running, nor
    # (de)serialising, nor shipping its result.
    delay = duration - run_ms - m.get("Executor Deserialize Time", 0) - m.get(
        "Result Serialization Time", 0
    ) - info.get("Getting Result Time", 0)
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    return Totals(
        tasks=1,
        run_s=run_ms / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        scheduler_delay_s=max(delay, 0) / 1e3,
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
    )


def parse(path: str) -> EventLog:
    """Read one event log file, or every file in a directory."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path)
        else [path]
    )
    out = EventLog()
    stage_desc: dict[int, str | None] = {}
    for name in files:
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    out.jobs[ev["Job ID"]] = (desc, ev.get("Submission Time", 0))
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                    out.by_desc[desc].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_desc[sid] = props.get("spark.job.description", stage_desc.get(sid))
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev["Stage ID"])
                    t = _task_totals(ev)
                    out.by_desc[desc].add(t)
    return out
