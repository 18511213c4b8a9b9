"""Spans around calls into the engine, and the Spark event log folded into
per-layer counters.

A span is opened around one call into a layer's public function. It tags
every Spark job the call submits with the job group ``<layer>.<fn>``, so
the event log can attribute jobs, stages and tasks to the span. Spans are
kept in memory and written out when the benchmark ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings that write one plain-JSON event log under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


class Tracer:
    """Records spans (name, start, end, parent) and sets the Spark job group
    of the innermost open span. With ``spark=None`` no job group is set."""

    def __init__(self):
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        self._stack.append(rec)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_jobs(events: list[dict]) -> list[dict]:
    """One record per Spark job: group, submit/end epoch seconds and the
    task counters of every stage the job ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0, "end": None,
                "stages": set(), "tasks": 0, "failed_tasks": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "executor_run_s": 0.0, "task_deser_s": 0.0, "gc_s": 0.0,
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"], -1))
            if job is None:
                continue
            job["stages"].add(e["Stage ID"])
            job["tasks"] += 1
            info = e.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                job["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["task_deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    out = []
    for jid in sorted(jobs):
        j = jobs[jid]
        j["id"] = jid
        j["stages"] = len(j["stages"])
        if j["end"] is None:
            j["end"] = j["start"]
        out.append(j)
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


JOB_COUNTERS = ("stages", "tasks", "failed_tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "executor_run_s", "task_deser_s", "gc_s")


def layer_table(spans: list[dict], jobs: list[dict], cores: int) -> dict[str, dict]:
    """Counters per ``<layer>.<fn>`` span name: wall time summed over its
    spans, and the jobs tagged with its group."""
    table: dict[str, dict] = {}
    by_group = defaultdict(list)
    for j in jobs:
        by_group[j["group"]].append(j)
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "in_jobs_s": 0.0})
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        mine = [j for j in by_group.get(s["name"], [])
                if s["start"] - 0.5 <= j["start"] <= s["end"] + 0.5]
        row["in_jobs_s"] += _covered([(j["start"], j["end"]) for j in mine],
                                     s["start"], s["end"])
    for name, row in table.items():
        mine = by_group.get(name, [])
        row["jobs"] = len(mine)
        for c in JOB_COUNTERS:
            row[c] = sum(j[c] for j in mine)
        row["driver_outside_jobs_s"] = max(0.0, row["wall_s"] - row.pop("in_jobs_s"))
        row["core_busy_ratio"] = (row["executor_run_s"] / (row["wall_s"] * cores)
                                  if row["wall_s"] > 0 else 0.0)
    return table


def superstep_counters(rounds: list[tuple[float, float]], jobs: list[dict],
                       group: str, wall_s: float, checkpoint_bytes: int) -> dict:
    """Per-round counters of one iterative operator call; ``rounds`` holds
    each superstep's (start, end) in epoch seconds."""
    walls = [b - a for a, b in rounds]
    in_rounds = sum(
        1 for j in jobs if j["group"] == group
        and any(a <= j["start"] <= b for a, b in rounds))
    n = len(walls)
    return {
        "supersteps": n,
        "superstep_p50_s": median(walls) if walls else 0.0,
        "superstep_tail_s": max(walls) if walls else 0.0,
        "jobs_per_superstep": in_rounds / n if n else 0.0,
        "outside_supersteps_s": max(0.0, wall_s - sum(walls)),
        "checkpoint_bytes": checkpoint_bytes,
    }
