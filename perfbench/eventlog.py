"""Spark event-log reader: task metrics per job group.

Every span of the traced run sets its id as the Spark job group, so the
jobs it starts carry ``spark.jobGroup.id`` in their properties. This
module maps task-end events to stages, stages to jobs and jobs to
groups, and sums the task metrics per group. SQL plan events give the
accumulator ids of join operators, whose per-task updates count the rows
a join produced.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .trace import union_length

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = ("org.apache.spark.sql.execution.ui."
               "SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class Totals:
    """task metrics summed over the stages of one or more job groups."""

    executor_run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    intervals: list = field(default_factory=list)

    def busy_s(self, start: float, end: float) -> float:
        """wall time within [start, end] during which any task ran."""
        return union_length(
            (max(s, start), min(e, end)) for s, e in self.intervals
            if min(e, end) > max(s, start))


def _plan_join_accums(node, out: set):
    if "Join" in node.get("nodeName", ""):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in node.get("children", ()):
        _plan_join_accums(c, out)


class EventLog:
    def __init__(self, events):
        self.group_of_job: dict[int, str | None] = {}
        self.job_of_stage: dict[int, int] = {}
        self.group_of_exec: dict[int, str | None] = {}
        self.join_accums: dict[int, set] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                self.group_of_job[jid] = props.get("spark.jobGroup.id")
                for sid in e.get("Stage IDs", ()):
                    self.job_of_stage.setdefault(sid, jid)
                if "spark.sql.execution.id" in props:
                    self.group_of_exec.setdefault(
                        int(props["spark.sql.execution.id"]),
                        props.get("spark.jobGroup.id"))
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
            elif kind in (_SQL_START, _SQL_UPDATE):
                acc = self.join_accums.setdefault(e["executionId"], set())
                _plan_join_accums(e.get("sparkPlanInfo") or {}, acc)
                if kind == _SQL_START and e.get("jobGroupId"):
                    self.group_of_exec[e["executionId"]] = e["jobGroupId"]

    @classmethod
    def read(cls, path: str) -> "EventLog":
        """`path` is the log file or the directory holding exactly one."""
        if os.path.isdir(path):
            names = [n for n in os.listdir(path)
                     if not n.startswith(".") and not n.endswith(".crc")]
            if len(names) != 1:
                raise ValueError(f"expected one event log in {path}, "
                                 f"found {names}")
            path = os.path.join(path, names[0])
        with open(path) as fh:
            return cls(json.loads(line) for line in fh if line.strip())

    def _task_group(self, t) -> str | None:
        jid = self.job_of_stage.get(t["Stage ID"])
        return self.group_of_job.get(jid) if jid is not None else None

    def totals(self, groups) -> Totals:
        groups = set(groups)
        out = Totals()
        for t in self.tasks:
            if self._task_group(t) not in groups:
                continue
            m = t.get("Task Metrics") or {}
            info = t.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out.tasks += 1
            if (t.get("Task End Reason") or {}).get("Reason") != "Success":
                out.failed_tasks += 1
            out.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            out.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            out.gc_s += m.get("JVM GC Time", 0) / 1e3
            out.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            out.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
            out.input_bytes += inp.get("Bytes Read", 0)
            out.input_records += inp.get("Records Read", 0)
            if info.get("Launch Time") and info.get("Finish Time"):
                out.intervals.append((info["Launch Time"] / 1e3,
                                      info["Finish Time"] / 1e3))
        return out

    def join_output_rows(self, groups) -> int:
        """rows produced by join operators in the SQL executions that
        ran under `groups`."""
        groups = set(groups)
        ids = set()
        for ex, acc in self.join_accums.items():
            if self.group_of_exec.get(ex) in groups:
                ids |= acc
        rows = 0
        for t in self.tasks:
            for a in (t.get("Task Info") or {}).get("Accumulables", ()):
                if a.get("ID") in ids and a.get("Update") is not None:
                    rows += int(a["Update"])
        return rows
