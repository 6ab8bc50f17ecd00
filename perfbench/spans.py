"""Tracing for the benchmark's traced run: an in-memory span recorder and a
Spark event-log parser that attributes task counters to spans.

Each span runs under its own Spark job group, so every job, stage and task
in the event log belongs to exactly one span. Spans are kept in memory and
written out once, when the traced run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

# actions that bring a result back to the Python process (PySpark call sites)
_COLLECT_SITE = re.compile(r"^(collect|count|first|take|head|toPandas|toLocalIterator) at ")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


class SpanRecorder:
    """Spans of one traced run: name, start, end, parent and the shared run
    id. Times are ``time.monotonic()`` seconds."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}:{name}",
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setJobGroup(parent["group"] if parent else f"{self.run_id}:idle", "idle")

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


class EventLog:
    """Jobs, stages and task metrics from one uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task metric dicts
        plans: dict[int, str] = {}
        roots: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "site": props.get("callSite.short") or "",
                        "exec": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                        "submit": e["Submission Time"],
                        "end": e["Submission Time"],
                    }
                    for sid in e["Stage IDs"]:
                        self.stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    self.tasks.setdefault(e["Stage ID"], []).append(e.get("Task Metrics") or {})
                elif ev == _SQL_START:
                    plans[e["executionId"]] = e.get("physicalPlanDescription") or ""
                    roots[e["executionId"]] = e.get("rootExecutionId", e["executionId"])
        for j in self.jobs.values():
            ex = j["exec"]
            j["plan"] = plans.get(roots.get(ex, ex), "") if ex is not None else ""

    def group_jobs(self, group: str) -> list[int]:
        return sorted(j for j, v in self.jobs.items() if v["group"] == group)

    def counters(self, job_ids: list[int]) -> dict:
        """Summed task counters of the stages these jobs ran."""
        jobs = set(job_ids)
        stages = [s for s, j in self.stage_job.items() if j in jobs and s in self.tasks]
        c = {
            "jobs": len(jobs),
            "job_s": sum(self.jobs[j]["end"] - self.jobs[j]["submit"] for j in jobs) / 1000.0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "records_in": 0, "records_out": 0, "bytes_out": 0, "task_skew": 1.0,
        }
        heaviest: list[float] = []
        for s in stages:
            runs = []
            for m in self.tasks[s]:
                runs.append(m.get("Executor Run Time", 0))
                c["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c["records_in"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                out = m.get("Output Metrics") or {}
                c["records_out"] += out.get("Records Written", 0)
                c["bytes_out"] += out.get("Bytes Written", 0)
            if sum(runs) > sum(heaviest):
                heaviest = runs
        if heaviest:
            c["task_skew"] = max(heaviest) / max(statistics.median(heaviest), 1.0)
        return c

    def sink_jobs(self, job_ids: list[int], out_root: str) -> list[int]:
        """Jobs of a file write whose target lies under ``out_root``."""
        return [j for j in job_ids if "InsertIntoHadoopFsRelationCommand" in self.jobs[j]["plan"]
                and out_root in self.jobs[j]["plan"]]

    def collect_jobs(self, job_ids: list[int]) -> list[int]:
        return [j for j in job_ids if _COLLECT_SITE.match(self.jobs[j]["site"])]


def span_metrics(prefix: str, span: dict, c: dict, cores: int) -> dict:
    """The four counters every span reports."""
    wall = max(span["end"] - span["start"], 1e-9)
    return {
        f"{prefix}.jobs": c["jobs"],
        f"{prefix}.executor_cpu_s": c["cpu_s"],
        f"{prefix}.gc_s": c["gc_s"],
        f"{prefix}.core_util": c["run_s"] / (wall * cores),
    }
