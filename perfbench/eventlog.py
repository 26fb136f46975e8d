"""Read a Spark event log (uncompressed, not rolled) with the standard library.

Jobs, stages and tasks are grouped by the job group that was set when the
job was submitted (``spark.jobGroup.id``). Group ids are paths such as
``compile`` or ``compile/ids``: a phase's totals include its sub-groups.

SQL operator metrics come from joining the accumulator ids declared in each
execution's ``sparkPlanInfo`` (the initial plan and every adaptive
re-plan) with the accumulator updates that ``TaskEnd`` events carry.

Enable the log with::

    spark.eventLog.enabled=true
    spark.eventLog.dir=<dir>
    spark.eventLog.compress=false
    spark.eventLog.rolling.enabled=false
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."

# per-phase execution counters, in the order they are reported
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "job_wall_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class _Totals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0


@dataclass
class EventLog:
    # job id -> (group, submit ms, end ms)
    jobs: dict[int, list] = field(default_factory=dict)
    # stage id -> group (from the submitting job's properties)
    stage_group: dict[int, str] = field(default_factory=dict)
    stage_attempts: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    stage_totals: dict[int, _Totals] = field(default_factory=lambda: defaultdict(_Totals))
    # accumulator id -> (operator name, metric name, metric type)
    sql_metrics: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    # (stage id, accumulator id) -> summed task updates
    accum: dict[tuple[int, int], int] = field(default_factory=lambda: defaultdict(int))

    def _stages_under(self, prefix: str) -> list[int]:
        return [s for s, g in self.stage_group.items() if _under(g, prefix)]

    def phase(self, prefix: str) -> dict[str, float]:
        """Execution counters of every job whose group is ``prefix`` or below it."""
        jobs = [(s, e) for g, s, e in self.jobs.values() if _under(g, prefix)]
        stages = self._stages_under(prefix)
        t = _Totals()
        for s in stages:
            st = self.stage_totals[s]
            t.tasks += st.tasks
            t.run_ms += st.run_ms
            t.cpu_ns += st.cpu_ns
            t.gc_ms += st.gc_ms
            t.shuffle_read += st.shuffle_read
            t.shuffle_write += st.shuffle_write
            t.spill += st.spill
        return {
            "jobs": len(jobs),
            "stages": sum(self.stage_attempts[s] for s in stages),
            "tasks": t.tasks,
            "job_wall_s": union_seconds(jobs),
            "executor_run_s": t.run_ms / 1e3,
            "executor_cpu_s": t.cpu_ns / 1e9,
            "gc_s": t.gc_ms / 1e3,
            "shuffle_read_bytes": t.shuffle_read,
            "shuffle_write_bytes": t.shuffle_write,
            "spill_bytes": t.spill,
        }

    def input_totals(self, prefix: str = "") -> tuple[int, int]:
        """(bytes, records) read by the tasks of every job under ``prefix``."""
        b = r = 0
        for s in self._stages_under(prefix):
            b += self.stage_totals[s].input_bytes
            r += self.stage_totals[s].input_rows
        return b, r

    def operator_metric(self, prefix: str, operator: str, metric: str) -> float:
        """Sum of one SQL metric over every operator whose name starts with
        ``operator``, for the tasks under ``prefix``; timings in seconds."""
        wanted = {
            acc: mtype for acc, (op, name, mtype) in self.sql_metrics.items()
            if op.startswith(operator) and name == metric
        }
        stages = set(self._stages_under(prefix))
        total = sum(v for (s, acc), v in self.accum.items() if s in stages and acc in wanted)
        kinds = set(wanted.values())
        if kinds == {"nsTiming"}:
            return total / 1e9
        if kinds == {"timing"}:
            return total / 1e3
        return float(total)


def _under(group: str, prefix: str) -> bool:
    return not prefix or group == prefix or group.startswith(prefix + "/")


def union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond intervals."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def _walk_plan(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _walk_plan(child, out)


def read(path: str | Path) -> EventLog:
    log = EventLog()
    job_group_by_stage: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                tm = e.get("Task Metrics") or {}
                t = log.stage_totals[sid]
                t.tasks += 1
                t.run_ms += tm.get("Executor Run Time", 0)
                t.cpu_ns += tm.get("Executor CPU Time", 0)
                t.gc_ms += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                t.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t.spill += tm.get("Disk Bytes Spilled", 0)
                inp = tm.get("Input Metrics") or {}
                t.input_bytes += inp.get("Bytes Read", 0)
                t.input_rows += inp.get("Records Read", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                    # SQL metric updates are written as strings
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        log.accum[(sid, acc["ID"])] += int(acc["Update"])
            elif ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                log.jobs[e["Job ID"]] = [group, e["Submission Time"], e["Submission Time"]]
                for sid in e.get("Stage IDs", ()):
                    job_group_by_stage.setdefault(sid, group)
            elif ev == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job[2] = e["Completion Time"]
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                log.stage_group[sid] = group if group is not None else job_group_by_stage.get(sid, "")
                log.stage_attempts[sid] += 1
            elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], log.sql_metrics)
    return log
