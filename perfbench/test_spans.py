"""Unit tests of the event-log reader and per-layer folding.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import SETUP_PASS, SPANS, layer_metrics, read_event_log  # noqa: E402


def _props(group):
    return {"spark.jobGroup.id": group} if group else {}


def _task(stage, cpu_ns, gc_ms, shuffle, spill):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


# Two jobs in group llm.dedup|0 (stages 0, 1), one in plans.tpch|1
# (stage 2), and one ungrouped job (stage 3) that must be ignored.
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0,
     "Properties": _props("llm.dedup|0")},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": _props("llm.dedup|0")},
    _task(0, 2_000_000_000, 100, 1000, 0),
    _task(0, 1_000_000_000, 50, 500, 4096),
    {"Event": "SparkListenerJobStart", "Job ID": 1,
     "Properties": _props("llm.dedup|0")},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
     "Properties": _props("llm.dedup|0")},
    _task(1, 500_000_000, 0, 0, 0),
    {"Event": "SparkListenerJobStart", "Job ID": 2,
     "Properties": _props("plans.tpch|1")},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
     "Properties": _props("plans.tpch|1")},
    _task(2, 250_000_000, 10, 64, 0),
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
     "Properties": {}},
    _task(3, 9_000_000_000, 900, 9, 9),
    # a failed task carries no metrics and is skipped
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
]


def test_read_event_log_groups_by_job_group():
    lines = [json.dumps(e) for e in CANNED] + [""]
    totals = read_event_log(lines)
    assert set(totals) == {("llm.dedup", 0), ("plans.tpch", 1)}
    d = totals[("llm.dedup", 0)]
    assert d["jobs"] == 2 and d["tasks"] == 3
    assert abs(d["cpu_s"] - 3.5) < 1e-9
    assert abs(d["gc_s"] - 0.15) < 1e-9
    assert d["shuffle_bytes"] == 1500 and d["spill_bytes"] == 4096
    t = totals[("plans.tpch", 1)]
    assert (t["jobs"], t["tasks"], t["shuffle_bytes"]) == (1, 1, 64)


def test_layer_metrics_medians_and_zero_fill():
    walls = {("llm.dedup", 0): 1.0, ("llm.dedup", 1): 3.0,
             ("llm.dedup", 2): 2.0, ("session.start", SETUP_PASS): 4.0}
    totals = {("llm.dedup", 0): {"jobs": 2, "tasks": 3, "cpu_s": 3.5,
                                 "gc_s": 0.15, "shuffle_bytes": 1500,
                                 "spill_bytes": 4096}}
    m = layer_metrics(walls, totals, passes=[0, 1, 2])
    assert len(m) == 7 * len(SPANS)
    assert m["llm.dedup.wall_s"] == 2.0
    assert m["llm.dedup.jobs"] == 0  # median of (2, 0, 0)
    assert m["session.start.wall_s"] == 4.0
    assert m["plans.tpch.wall_s"] == 0 and m["plans.tpch.tasks"] == 0
