"""Executor metrics per Spark job group, read from Spark's JSON event log.

Needs the log uncompressed and in one file (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``). Only the standard library is used.

Per job group the parser sums: jobs, tasks, executor run and CPU time, JVM
GC time, shuffle bytes read and written, bytes spilled, input bytes and
records, Python worker run time and the number of files
the scans read. Jobs and tasks with no job group are left out.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "python_worker_s",
    "files_read",
)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metric_names(child, out)


def parse(path: str) -> dict[str, dict[str, float]]:
    """Return ``{job_group: {field: total}}`` for every tagged job group."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    totals[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if not group or not tm:
                    continue
                t = totals[group]
                t["tasks"] += 1
                t["run_s"] += tm["Executor Run Time"] / 1e3
                t["cpu_s"] += tm["Executor CPU Time"] / 1e9
                t["gc_s"] += tm["JVM GC Time"] / 1e3
                sr = tm["Shuffle Read Metrics"]
                t["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                t["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                t["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                t["input_records"] += tm["Input Metrics"]["Records Read"]
                for acc in ev["Task Info"].get("Accumulables", ()):
                    if acc.get("Name") == "time to run Python workers":  # ms
                        t["python_worker_s"] += float(acc["Update"]) / 1e3
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                if ev.get("jobGroupId"):
                    exec_group[ev["executionId"]] = ev["jobGroupId"]
                _plan_metric_names(ev["sparkPlanInfo"], accum_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                group = exec_group.get(ev["executionId"])
                if group:
                    for acc_id, value in ev["accumUpdates"]:
                        if accum_name.get(acc_id) == "number of files read":
                            totals[group]["files_read"] += value
    return dict(totals)


def total(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Sum every field over all job groups."""
    out = dict.fromkeys(FIELDS, 0.0)
    for fields in groups.values():
        for k, v in fields.items():
            out[k] += v
    return out
