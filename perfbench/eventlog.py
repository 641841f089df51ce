"""Spark event-log reader: per-job-group task, stage and SQL totals.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` (plain or in a ``eventlog_v2_*`` directory)
and keeps only what the benchmark reports:

- jobs: id, job group, call site, SQL execution id, submit/end times;
- tasks: stage, launch/finish times and task metrics (run and CPU time,
  GC, shuffle write, spill, input records) plus the named SQL
  metrics each task updated (e.g. ``data sent to Python workers``);
- SQL driver-side metrics (e.g. ``number of files read``), named through
  the plan trees of execution start and adaptive-update events.

Each stage's tasks are charged to the first job that lists the stage, so
a stage a later job skips is not counted twice.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from spans import covered

TASK_SQL_METRICS = (
    "data sent to Python workers",
    "data returned from Python workers",
)
DRIVER_SQL_METRICS = ("number of files read",)


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    sql_id: int | None
    submit: float
    end: float | None = None


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    input_records: int
    sql: dict[str, int] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    sql_driver: dict[int, dict[str, int]] = field(default_factory=dict)

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]


def _event_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    files = sorted(p for p in path.rglob("*") if p.is_file() and not p.name.startswith("."))
    return [p for p in files if p.name.startswith(("events_", "local-", "app-"))]


def _plan_metrics(node: dict, names: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", ()):
        _plan_metrics(child, names)


def parse(path: str | Path) -> EventLog:
    log = EventLog()
    acc_names: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for f in _event_files(Path(path)):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sql = props.get("spark.sql.execution.id")
                    job = Job(
                        job_id=e["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        call_site=props.get("callSite.short", ""),
                        sql_id=int(sql) if sql is not None else None,
                        submit=e["Submission Time"] / 1000.0,
                    )
                    log.jobs[job.job_id] = job
                    for sid in e.get("Stage IDs", ()):
                        log.stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in log.jobs:
                        log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(e))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metrics(e.get("sparkPlanInfo") or {}, acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in e.get("accumUpdates", ()):
                        driver_updates.append((e["executionId"], acc, value))
    for exec_id, acc, value in driver_updates:
        name = acc_names.get(acc)
        if name in DRIVER_SQL_METRICS:
            per = log.sql_driver.setdefault(exec_id, defaultdict(int))
            per[name] += int(value)
    return log


def _task(e: dict) -> Task:
    info = e.get("Task Info") or {}
    m = e.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    sql = {}
    for acc in info.get("Accumulables", ()):
        if acc.get("Name") in TASK_SQL_METRICS:
            sql[acc["Name"]] = sql.get(acc["Name"], 0) + int(acc.get("Update") or 0)
    return Task(
        stage=e["Stage ID"],
        launch=info.get("Launch Time", 0) / 1000.0,
        finish=info.get("Finish Time", 0) / 1000.0,
        run_s=m.get("Executor Run Time", 0) / 1000.0,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
        input_records=inp.get("Records Read", 0),
        sql=sql,
    )


def op_totals(
    log: EventLog,
    groups: set[str],
    start: float,
    end: float,
    cores: int,
    excluded: list[tuple[float, float]] = (),
) -> dict:
    """Totals over the jobs of ``groups`` that ran inside one operation
    lasting ``[start, end]`` (epoch seconds), not counting the time in
    ``excluded`` (the operation's probe spans) as its wall time:

    - ``jobs``, ``tasks``, ``executor_cpu_s``, ``gc_s``,
      ``shuffle_bytes`` (written), ``spill_bytes``, ``input_records``;
    - ``driver_gap_s``: operation time no job of it was running;
    - ``core_busy_frac``: summed task time over ``cores`` x wall;
    - the task and driver SQL metrics named in this module.
    """
    jobs = log.jobs_in(groups)
    tasks = log.tasks_of(jobs)
    wall = max(end - start - covered(start, end, list(excluded)), 1e-9)
    spans = [(j.submit, j.end if j.end is not None else end) for j in jobs]
    out = {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "input_records": sum(t.input_records for t in tasks),
        "driver_gap_s": max(0.0, wall - covered(start, end, spans)),
        "core_busy_frac": sum(t.finish - t.launch for t in tasks) / (cores * wall),
    }
    for name in TASK_SQL_METRICS:
        out[name] = sum(t.sql.get(name, 0) for t in tasks)
    sql_ids = {j.sql_id for j in jobs if j.sql_id is not None}
    for name in DRIVER_SQL_METRICS:
        out[name] = sum(log.sql_driver.get(i, {}).get(name, 0) for i in sql_ids)
    return out


def job_seconds(log: EventLog, groups: set[str], call_site_part: str) -> float:
    """Summed wall time of the jobs of ``groups`` whose call site
    contains ``call_site_part``."""
    return sum(
        (j.end or j.submit) - j.submit
        for j in log.jobs_in(groups)
        if call_site_part in j.call_site
    )


def stage_skew(log: EventLog, groups: set[str], sql_metric: str) -> list[float]:
    """Per stage of ``groups`` whose tasks updated ``sql_metric``: the
    slowest task's run time over the mean task run time."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    for t in log.tasks_of(log.jobs_in(groups)):
        if t.sql.get(sql_metric):
            by_stage[t.stage].append(t.run_s)
    out = []
    for runs in by_stage.values():
        mean = sum(runs) / len(runs)
        if mean > 0:
            out.append(max(runs) / mean)
    return out
