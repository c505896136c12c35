"""Spark event-log parser: per job group counters of executor CPU, GC,
shuffle, spill, input records, rows out of cached-table scans and of
cross joins, and job / stage / task counts.

Jobs and stages are attributed to the ``spark.jobGroup.id`` property
they were submitted under (the tracer sets one per span); tasks inherit
their stage's group. Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import perfbench.stats as stats

_WANTED = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerJobEnd"',
    b'"SparkListenerStageSubmitted"',
    b'"SparkListenerTaskEnd"',
    b"SparkListenerSQLExecutionStart",
    b"SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class Task:
    stage: int
    group: str | None
    duration_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_records: int
    cached_rows: int
    cross_join_rows: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    cached_rows: int = 0
    cross_join_rows: int = 0
    task_skew: float = 0.0


def event_file(path: Path) -> Path:
    """The event-log file at ``path``, or the one file in directory
    ``path`` (the benchmark writes one uncompressed, unrolled log)."""
    path = Path(path)
    if path.is_file():
        return path
    files = [p for p in path.iterdir() if p.is_file()
             and not p.name.startswith(".")]
    if len(files) != 1:
        raise ValueError(f"expected one event log in {path}, found "
                         f"{sorted(p.name for p in files)}")
    return files[0]


# plan nodes whose 'number of output rows' metric is summed per task,
# by the Task field it goes to
_ROW_NODES = {
    "InMemoryTableScan": "cached_rows",
    "BroadcastNestedLoopJoin": "cross_join_rows",
    "CartesianProduct": "cross_join_rows",
}


def _row_accumulators(plan: dict, out: dict[int, str]) -> None:
    """accumulator id -> Task field, for the output-row metrics of the
    ``_ROW_NODES`` in ``plan``."""
    name = plan.get("nodeName", "")
    kind = next((v for k, v in _ROW_NODES.items() if name.startswith(k)),
                None)
    if kind is not None:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = kind
    for child in plan.get("children", []):
        _row_accumulators(child, out)


def read_event_log(path: Path) -> EventLog:
    log = EventLog()
    row_ids: dict[int, str] = {}
    raw_tasks: list[tuple[int, dict, dict]] = []
    with open(event_file(path), "rb") as fh:
        for line in fh:
            if not any(w in line[:160] for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    props.get("spark.jobGroup.id"), ev["Submission Time"]
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                log.stage_group[sid] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                raw_tasks.append((ev["Stage ID"], ev.get("Task Info")
                                  or {}, ev.get("Task Metrics") or {}))
            else:
                _row_accumulators(ev.get("sparkPlanInfo", {}), row_ids)
    for sid, info, m in raw_tasks:
        rows = {"cached_rows": 0, "cross_join_rows": 0}
        for a in info.get("Accumulables", []):
            kind = row_ids.get(a.get("ID"))
            if kind is not None:
                rows[kind] += int(a.get("Update", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        log.tasks.append(Task(
            stage=sid,
            group=log.stage_group.get(sid),
            duration_ms=int(info.get("Finish Time", 0))
            - int(info.get("Launch Time", 0)),
            cpu_ns=int(m.get("Executor CPU Time", 0)),
            gc_ms=int(m.get("JVM GC Time", 0)),
            shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
            spill_bytes=int(m.get("Memory Bytes Spilled", 0))
            + int(m.get("Disk Bytes Spilled", 0)),
            input_records=int(inp.get("Records Read", 0)),
            **rows,
        ))
    return log


def counters(log: EventLog, select: Callable[[str | None], bool]) -> Counters:
    """Totals over the jobs, stages and tasks whose job group passes
    ``select``. ``task_skew`` is max / median task time of the selected
    stage with the most task time (0 when no stage has two tasks)."""
    c = Counters()
    c.jobs = sum(1 for j in log.jobs.values() if select(j.group))
    by_stage: dict[int, list[int]] = {}
    for t in log.tasks:
        if not select(t.group):
            continue
        c.tasks += 1
        c.executor_cpu_s += t.cpu_ns / 1e9
        c.gc_s += t.gc_ms / 1e3
        c.shuffle_write_bytes += t.shuffle_write_bytes
        c.spill_bytes += t.spill_bytes
        c.input_records += t.input_records
        c.cached_rows += t.cached_rows
        c.cross_join_rows += t.cross_join_rows
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    c.stages = len(by_stage)
    multi = [d for d in by_stage.values() if len(d) >= 2]
    if multi:
        heavy = max(multi, key=sum)
        mid = stats.median(heavy)
        c.task_skew = max(heavy) / mid if mid > 0 else 1.0
    return c


def job_intervals(
    log: EventLog, select: Callable[[str | None], bool]
) -> list[tuple[float, float]]:
    """[submit, completion] of every selected finished job, in epoch
    seconds."""
    return [
        (j.submit_ms / 1e3, j.end_ms / 1e3)
        for j in log.jobs.values()
        if select(j.group) and j.end_ms is not None
    ]
