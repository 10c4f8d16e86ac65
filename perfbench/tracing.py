"""Spans around the benchmark's calls into each layer, and per-job-group
task metrics from the Spark event log.

A span records name, start, end, parent span and run id; spans stay in
memory until ``Tracer.write``. A span opened with ``group=`` also tags
every Spark job it starts with ``setJobGroup(group)``, which is how the
event log's task metrics are attributed back to layers.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spark = None  # set once the session exists; until then no job groups
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                # back to the enclosing span's group (None clears it)
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def _event_lines(log_dir: str):
    """Every JSON line of every file under ``log_dir`` (a directory this
    run owns; Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>``)."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue


def group_metrics(log_dir: str) -> dict[str, dict]:
    """job group -> {cpu_s, run_s, gc_s, shuffle_write_bytes, tasks,
    stage_run_ms: {stage: [task run ms]}} from ``SparkListenerTaskEnd``
    events, mapped through ``SparkListenerJobStart`` stage ids."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    out: dict[str, dict] = {}
    for ev in tasks:
        group = stage_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if group is None or not m:
            continue
        g = out.setdefault(
            group,
            {"cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
             "tasks": 0, "stage_run_ms": {}},
        )
        g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["run_s"] += m.get("Executor Run Time", 0) / 1e3
        g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["tasks"] += 1
        g["stage_run_ms"].setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    return out
