"""The event-log reader on a small recorded log.

``fixtures/eventlog_small.jsonl`` was recorded from a ``local[2]`` session
running three jobs: a grouped count tagged ``bench:1``, a count tagged
``bench:2`` and an untagged collect.  It was trimmed to the events and
fields the reader uses.
"""

import json
import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_jobs_and_tasks_per_description():
    log = eventlog.parse(FIXTURE)
    assert {j: d for j, (d, _) in log.jobs.items()} == {0: "bench:1", 1: "bench:2", 2: None}
    assert {d: (t.jobs, t.tasks) for d, t in log.by_desc.items()} == {
        "bench:1": (1, 4),
        "bench:2": (1, 3),
        None: (1, 2),
    }


def test_shuffle_bytes_balance_within_a_job():
    t = eventlog.parse(FIXTURE).by_desc["bench:1"]
    assert t.shuffle_write_bytes == t.shuffle_read_bytes == 364
    assert t.spill_bytes == 0


def test_task_times_are_summed_in_seconds():
    with open(FIXTURE, encoding="utf-8") as fh:
        tasks = [json.loads(line) for line in fh]
    tasks = [e for e in tasks if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in (0, 1)]
    t = eventlog.parse(FIXTURE).by_desc["bench:1"]
    assert t.run_s == pytest.approx(sum(e["Task Metrics"]["Executor Run Time"] for e in tasks) / 1e3)
    assert t.cpu_s == pytest.approx(sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks) / 1e9)
    assert t.gc_s == pytest.approx(sum(e["Task Metrics"]["JVM GC Time"] for e in tasks) / 1e3)


def test_scheduler_delay_of_one_task():
    with open(FIXTURE, encoding="utf-8") as fh:
        first = next(json.loads(line) for line in fh if "TaskEnd" in line)
    # (finish - launch) - run - deserialize - result serialization - getting result
    # = (1792241864192 - 1792241863426) - 535 - 125 - 3 - 0 ms
    assert eventlog._task_totals(first).scheduler_delay_s == pytest.approx(0.103)


def test_stage_without_properties_takes_its_jobs_description(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1,
         "Stage IDs": [3], "Properties": {"spark.job.description": "bench:9"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 10, "Finish Time": 30},
         "Task Metrics": {"Executor Run Time": 15, "Disk Bytes Spilled": 5,
                          "Output Metrics": {"Bytes Written": 42}}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    t = eventlog.parse(str(path)).by_desc["bench:9"]
    assert (t.jobs, t.tasks, t.spill_bytes, t.output_bytes) == (1, 1, 5, 42)
    assert t.scheduler_delay_s == pytest.approx(0.005)
