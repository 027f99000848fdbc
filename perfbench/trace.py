"""Spans around layer calls, and Spark counters from Spark's event log.

A ``Tracer`` records one span per layer call made by the benchmark:
name, start, end, parent and run id. Entering a span also sets the Spark
job group and description, so every job and stage in the event log can
be attributed to the layer that issued it. Spans stay in memory until
``write`` is called at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "run": self.run_id,
               "parent": self.spans[self._stack[-1]]["name"]
               if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}/{name}", name)
            self.sc.setLocalProperty("callSite.short", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["name"] \
                    if self._stack else None
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                    self.sc.setLocalProperty("callSite.short", None)
                else:
                    self.sc.setJobGroup(f"{self.run_id}/{outer}", outer)
                    self.sc.setLocalProperty("callSite.short", outer)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> dict:
        """Span duration minus the part covered by its child spans."""
        out: dict = defaultdict(float)
        for s in self.spans:
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["name"] and c["run"] == s["run"]
                       and c["start"] >= s["start"] and c["end"] <= s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - kids
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def spark_counters(event_log: str, group_prefix: str, cores: int,
                   wall_s: float) -> dict:
    """Jobs, stages and task totals of the jobs whose job group starts
    with ``group_prefix``, from an uncompressed Spark event log.
    ``busy_frac`` is executor run time over ``wall_s`` × ``cores``."""
    job_stages: dict = {}
    groups: dict = {}
    tasks: dict = defaultdict(lambda: defaultdict(float))
    ran: set = set()
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                if group.startswith(group_prefix):
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                    groups[ev["Job ID"]] = group[len(group_prefix):]
            elif kind == "SparkListenerStageCompleted":
                ran.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks[ev["Stage ID"]]
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                t["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    stages = {s for ss in job_stages.values() for s in ss if s in ran}
    tot = defaultdict(float)
    for s in stages:
        for k, v in tasks[s].items():
            tot[k] += v
    jobs_by_group: dict = defaultdict(int)
    for g in groups.values():
        jobs_by_group[g] += 1
    return {
        "jobs": len(job_stages),
        "stages": len(stages),
        "executor_run_s": tot["run_ms"] / 1e3,
        "busy_frac": tot["run_ms"] / 1e3 / (wall_s * cores) if wall_s else 0.0,
        "shuffle_write_mb": tot["shuffle_w"] / 2**20,
        "spill_mb": tot["spill"] / 2**20,
        "gc_s": tot["gc_ms"] / 1e3,
        "jobs_by_group": dict(jobs_by_group),
    }
