"""Spans and Spark event-log counters for the traced run.

A span is one call the benchmark makes into the package. Before the
call the benchmark sets the span's name as Spark's job group, so every
job the call starts, and every task of those jobs, can be attributed to
it from the event log (``spark.eventLog.enabled``) once the session has
stopped. Spans live in memory; nothing is written while timing.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "failed", "retried", "run_ms", "gc_ms",
            "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Records (name, kind, start, end) spans and tags Spark jobs."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "kind": kind, "start": t0,
                               "end": time.perf_counter()})
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """→ {job group: counters} summed over every event log in log_dir."""
    by_group: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0))
    for path in glob.glob(os.path.join(log_dir, "*")):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "-"
                    by_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    c = by_group[stage_group.get(ev.get("Stage ID"), "-")]
                    info = ev.get("Task Info") or {}
                    c["tasks"] += 1
                    c["failed"] += bool(info.get("Failed"))
                    c["retried"] += info.get("Attempt", 0) > 0
                    m = ev.get("Task Metrics") or {}
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    c["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    c["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written", 0)
    return dict(by_group)


def total(counters: dict[str, dict[str, float]], names, key: str) -> float:
    return sum(counters.get(n, {}).get(key, 0) for n in names)
