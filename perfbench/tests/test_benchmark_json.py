"""``BENCHMARK.json`` lists exactly the metrics the benchmark prints."""

import json
import os

import layers
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_per_layer_matches_the_layer_table():
    assert load()["per_layer"] == layers.benchmark_entries()


def test_workloads_are_the_ones_run_accepts():
    assert [w["name"] for w in load()["workloads"]] == list(WORKLOADS)


def test_end_to_end_names():
    names = [m["name"] for m in load()["end_to_end"]]
    assert names == ["setup_s", "cold_op_s", "op_p50_s", "op_tail_s", "peak_rss_mb", "storage_amp"]
    assert max(m["bound"] for m in load()["end_to_end"]) == next(
        m["bound"] for m in load()["end_to_end"] if m["name"] == "setup_s"
    )
