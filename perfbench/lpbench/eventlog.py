"""Offline reader for Spark's JSON event log.

Traced runs enable ``spark.eventLog.enabled`` and tag every action with
``setJobDescription(tag)``. After the session stops, this reader groups
jobs, stages, task metrics and SQL plan metrics by that tag."""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


class EventLog:
    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        self.accum: dict[int, int] = defaultdict(int)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "tag": props.get("spark.job.description"),
                "stages": e.get("Stage IDs", []),
            }
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            sr = tm.get("Shuffle Read Metrics") or {}
            self.stage_tasks[e["Stage ID"]].append(
                {
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "in_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "dur_ms": ti["Finish Time"] - ti["Launch Time"],
                }
            )
            for a in ti.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.accum[a["ID"]] += int(upd)
        elif ev == _SQL + "SparkListenerSQLExecutionStart":
            self.sql[e["executionId"]] = {
                "tag": e.get("description"),
                "plan": e.get("physicalPlanDescription", ""),
                "plans": [list(_walk(e["sparkPlanInfo"]))],
            }
        elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            x = self.sql.get(e["executionId"])
            if x is not None:
                x["plan"] += "\n" + e.get("physicalPlanDescription", "")
                x["plans"].append(list(_walk(e["sparkPlanInfo"])))
        elif ev == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            x = self.sql.get(e["executionId"])
            if x is not None:
                x["plans"].append([{"nodeName": "", "metrics": e.get("sqlPlanMetrics", [])}])
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self.accum[acc_id] += int(value)

    # --- per-tag views -----------------------------------------------------

    def job_count(self, tag: str) -> int:
        return sum(1 for j in self.jobs.values() if j["tag"] == tag)

    def tasks(self, tag: str) -> list[dict]:
        return [
            t
            for j in self.jobs.values()
            if j["tag"] == tag
            for s in j["stages"]
            for t in self.stage_tasks.get(s, [])
        ]

    def total(self, tag: str, key: str) -> int:
        return sum(t[key] for t in self.tasks(tag))

    def final_stage_skew(self, tag: str) -> float:
        """max / median task duration of the last stage that ran tasks."""
        stages = sorted(
            s for j in self.jobs.values() if j["tag"] == tag for s in j["stages"]
            if self.stage_tasks.get(s)
        )
        if not stages:
            return 0.0
        durs = [t["dur_ms"] for t in self.stage_tasks[stages[-1]]]
        med = statistics.median(durs)
        return max(durs) / med if med else 1.0

    def plans(self, tag: str) -> str:
        return "\n".join(x["plan"] for x in self.sql.values() if x["tag"] == tag)

    def metric(self, tag: str, name: str, node_prefix: str = "", first_only: bool = False) -> int:
        """Sum of SQL metric ``name`` over plan nodes of ``tag``'s executions
        whose node name starts with ``node_prefix``. ``first_only`` keeps
        the top-most matching node of each execution's final plan."""
        ids: set[int] = set()
        for x in self.sql.values():
            if x["tag"] != tag:
                continue
            for plan in reversed(x["plans"]) if first_only else x["plans"]:
                found = [
                    m["accumulatorId"]
                    for node in plan
                    if node.get("nodeName", "").startswith(node_prefix)
                    for m in node.get("metrics", [])
                    if m["name"] == name
                ]
                if first_only and found:
                    ids.add(found[0])
                    break
                ids.update(found)
        return sum(self.accum.get(i, 0) for i in ids)
