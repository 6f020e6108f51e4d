"""Fold a Spark event log into per-phase metrics.

A phase is a Spark job group: the benchmark sets the group around each
call into the engine (``session.setJobGroup``), Spark stores it in every
job's ``Properties`` and in every SQL execution's start event, and this
fold maps job groups to the jobs' stages and tasks. A phase's wall time
is the union of its jobs and its SQL executions; an execution also
spans the driver's physical planning and the adaptive re-planning
between its jobs. The log must be uncompressed and non-rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``):
one JSON event per line.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
_MB = float(1 << 20)


@dataclass
class Phase:
    """Totals of one job group over a whole log."""

    intervals: list[tuple[int, int]] = field(default_factory=list)  # job or execution (start, end) in ms
    busy_ms: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    one_task_stages: int = 0
    one_task_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall_s(self) -> float:
        """Seconds during which at least one of the phase's jobs or SQL
        executions ran."""
        total, end = 0, None
        for a, b in sorted(self.intervals):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1000.0

    def metrics(self, cores: int, entries: int) -> dict[str, float]:
        """Per-entry averages (a phase is entered once per query)."""
        n = max(entries, 1)
        wall = self.wall_s
        return {
            "wall_s": wall / n,
            "busy_s": self.busy_ms / 1000.0 / n,
            "parallel_eff": self.busy_ms / 1000.0 / (wall * cores) if wall > 0 else 0.0,
            "tasks": self.tasks / n,
            "one_task_stages": self.one_task_stages / n,
            "one_task_s": self.one_task_ms / 1000.0 / n,
            "shuffle_mb": self.shuffle_bytes / _MB / n,
            "spill_mb": self.spill_bytes / _MB / n,
            "failed_tasks": self.failed_tasks / n,
        }


def fold(lines) -> dict[str, Phase]:
    """Phases by job group from the event log's lines; jobs and SQL
    executions without a group are ignored. A stage shared by several
    jobs counts once, for the first job that lists it."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, int]] = {}
    execution_group: dict[int, tuple[str, int]] = {}
    phases: dict[str, Phase] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == _SQL_EVENT + "Start":
            group = ev.get("jobGroupId")
            if group:
                execution_group[ev["executionId"]] = (group, ev["time"])
                phases.setdefault(group, Phase())
        elif kind == _SQL_EVENT + "End":
            started = execution_group.get(ev["executionId"])
            if started:
                phases[started[0]].intervals.append((started[1], ev["time"]))
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group:
                job_group[ev["Job ID"]] = (group, ev["Submission Time"])
                phases.setdefault(group, Phase())
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            started = job_group.get(ev["Job ID"])
            if started:
                phases[started[0]].intervals.append((started[1], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group and info.get("Number of Tasks") == 1:
                phases[group].one_task_stages += 1
                phases[group].one_task_ms += info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if not group:
                continue
            ph = phases[group]
            ph.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                ph.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            ph.busy_ms += tm.get("Executor Run Time", 0)
            ph.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            ph.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return phases


def fold_file(path: str) -> dict[str, Phase]:
    with open(path) as f:
        return fold(f)
