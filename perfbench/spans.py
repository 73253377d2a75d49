"""Spans around the benchmark's calls into the library, and the
per-layer numbers Spark's event log holds for each of them.

A span is one call into a public function of a repository module
(``operators.gather``, ``llm.dedup`` ...). The benchmark times every
span on the driver. In a traced run it also tags the Spark jobs a span
starts with the job group ``<span>|<pass>``; after the session stops,
:func:`read_event_log` folds the uncompressed event log into per-group
job, task, CPU, GC, shuffle and spill totals.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Every span the benchmark records, in pipeline order. ``setup`` spans
# run once per set-up; the others once or more per pass.
SPANS = [
    "session.start",
    "sources.audience_gen",
    "operators.gather",
    "operators.s2cell",
    "operators.gather_encoder.fit",
    "operators.gather_encoder.transform",
    "operators.classification.fit",
    "operators.classification.transform",
    "operators.evaluation",
    "llm.text",
    "llm.dedup",
    "llm.clusters",
    "llm.similarity.fit",
    "llm.similarity.search",
    "plans.relational",
    "plans.tpch",
]
LAYER_FIELDS = ["wall_s", "jobs", "tasks", "cpu_s", "gc_s",
                "shuffle_bytes", "spill_bytes"]
SETUP_PASS = -1
GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Times spans; once ``sc`` (a SparkContext) is set, also tags their
    jobs with a job group so the event log can attribute them."""

    def __init__(self):
        self.sc = None
        self.pass_idx = SETUP_PASS
        self.records: list[tuple[str, int, float]] = []  # (span, pass, wall)
        self.started = 0

    @contextmanager
    def span(self, name: str):
        if name not in SPANS:
            raise ValueError(f"unknown span {name!r}")
        self.started += 1
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_KEY, f"{name}|{self.pass_idx}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, self.pass_idx,
                                 time.perf_counter() - t0))
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, None)

    def span_walls(self) -> dict[tuple[str, int], float]:
        out: dict[tuple[str, int], float] = defaultdict(float)
        for name, p, w in self.records:
            out[(name, p)] += w
        return out


def _group_of(props: dict | None) -> tuple[str, int] | None:
    gid = (props or {}).get(GROUP_KEY)
    if not gid or "|" not in gid:
        return None
    name, _, p = gid.rpartition("|")
    try:
        return name, int(p)
    except ValueError:
        return None


def read_event_log(lines) -> dict[tuple[str, int], dict[str, float]]:
    """Fold event-log JSON lines into totals per ``(span, pass)`` job
    group: jobs, tasks, executor CPU and GC seconds, shuffle bytes
    written and bytes spilled to disk. Jobs and stages outside any
    group (the benchmark's own checks) are ignored."""
    totals: dict[tuple[str, int], dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(LAYER_FIELDS[1:], 0))
    stage_group: dict[int, tuple[str, int]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                totals[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            t = totals[g]
            t["tasks"] += 1
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(totals)


def layer_metrics(span_walls: dict[tuple[str, int], float],
                  log_totals: dict[tuple[str, int], dict[str, float]],
                  passes: list[int]) -> dict[str, float]:
    """``<span>.<field>`` for every span and field: the median over
    ``passes`` of the span's per-pass total (set-up spans: their single
    set-up value). A span the workload never enters reads 0."""
    out = {}
    for name in SPANS:
        keys = [(name, p) for p in passes if (name, p) in span_walls]
        if not keys and (name, SETUP_PASS) in span_walls:
            keys = [(name, SETUP_PASS)]
        for field in LAYER_FIELDS:
            if field == "wall_s":
                vals = [span_walls[k] for k in keys]
            else:
                vals = [log_totals.get(k, {}).get(field, 0) for k in keys]
            out[f"{name}.{field}"] = statistics.median(vals) if vals else 0
    return out
