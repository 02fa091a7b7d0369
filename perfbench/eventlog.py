"""Read Spark's JSON event log into jobs and per-label totals.

The benchmark traces the library from outside: it turns the event log
on (uncompressed, not rolling) and afterwards reads, for every job, its
description label, call site, interval, and the run time, GC, shuffle,
spill and output bytes of its tasks, plus the bytes of parquet files
scanned under a given path. Works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Stage:
    stage_id: int
    n_tasks: int = 0
    start: float | None = None
    end: float | None = None
    busy_s: float = 0.0
    gc_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    @property
    def wall_s(self) -> float:
        if self.start is None or self.end is None:
            return 0.0
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    start: float
    end: float | None = None
    description: str | None = None
    call_site: str = ""
    sql_execution: int | None = None
    # stages this job was the first to list (the ones it ran)
    owned: list[int] = field(default_factory=list)
    succeeded: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # 'size of files read' accumulators of parquet scans under a traced path
    boundary_scan_accums: set[int] = field(default_factory=set)
    # (execution id, accumulator id) -> driver-side metric value
    driver_accums: dict[tuple[int, int], int] = field(default_factory=dict)

    def jobs_between(self, start: float, end: float) -> list[Job]:
        """Jobs submitted inside the wall-clock interval [start, end]."""
        return sorted(
            (j for j in self.jobs.values() if start <= j.start <= end),
            key=lambda j: j.start,
        )

    def job_stages(self, job: Job) -> list[Stage]:
        return [self.stages[s] for s in job.owned if s in self.stages]

    def boundary_read_bytes(self, jobs: list[Job]) -> int:
        """Parquet bytes the jobs' SQL executions read from traced paths."""
        executions = {j.sql_execution for j in jobs if j.sql_execution is not None}
        return sum(
            v
            for (ex, acc), v in self.driver_accums.items()
            if ex in executions and acc in self.boundary_scan_accums
        )


def _scan_accums(plan: dict, path_marker: str, out: set[int]) -> None:
    """Collect 'size of files read' accumulators of parquet scans whose
    file location contains ``path_marker``."""
    location = str(plan.get("metadata", {}).get("Location", ""))
    if plan.get("nodeName", "").startswith("Scan parquet") and path_marker in location:
        for m in plan.get("metrics", []):
            if m.get("name") == "size of files read":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _scan_accums(child, path_marker, out)


def parse(lines, boundary_marker: str | None = None) -> EventLog:
    """Parse event-log lines (an iterable of JSON strings).

    ``boundary_marker``: a path fragment; parquet scans whose location
    contains it count towards :meth:`EventLog.boundary_read_bytes`.
    """
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                description=props.get("spark.job.description"),
                call_site=props.get("callSite.short", ""),
                sql_execution=int(ex) if ex not in (None, "") else None,
            )
            log.jobs[job.job_id] = job
            for info in ev.get("Stage Infos", []):
                sid = info["Stage ID"]
                if sid not in log.stages:
                    log.stages[sid] = Stage(sid, n_tasks=info.get("Number of Tasks", 0))
                    job.owned.append(sid)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                job.succeeded = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.n_tasks = info.get("Number of Tasks", st.n_tasks)
            if "Submission Time" in info and "Completion Time" in info:
                st.start = info["Submission Time"] / 1000.0
                st.end = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            info = ev.get("Task Info") or {}
            if reason != "Success" or info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            st.busy_s += m.get("Executor Run Time", 0) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            if boundary_marker:
                _scan_accums(ev.get("sparkPlanInfo", {}), boundary_marker,
                             log.boundary_scan_accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = int(ev["executionId"])
            for acc, value in ev.get("accumUpdates", []):
                key = (ex, int(acc))
                log.driver_accums[key] = log.driver_accums.get(key, 0) + int(value)
    return log


def read(path: str, boundary_marker: str | None = None) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh, boundary_marker)


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(log: EventLog, jobs: list[Job], cores: int) -> dict[str, float]:
    """Per-label metrics for a group of jobs (one pipeline stage or query).

    ``wall_s`` is the union of the jobs' intervals; ``busy_s``/``gc_s``
    sum task run and GC time; ``narrow_stages`` counts Spark stages
    longer than 0.3 s that ran on fewer tasks than ``cores``.
    """
    stages = {st.stage_id: st for j in jobs for st in log.job_stages(j)}
    ran = [st for st in stages.values() if st.tasks > 0]
    return {
        "wall_s": union_s((j.start, j.end) for j in jobs if j.end is not None),
        "busy_s": float(sum(st.busy_s for st in ran)),
        "gc_s": float(sum(st.gc_s for st in ran)),
        "tasks": float(sum(st.tasks for st in ran)),
        "shuffle_mb": sum(st.shuffle_bytes for st in ran) / MB,
        "spill_mb": sum(st.spill_bytes for st in ran) / MB,
        "narrow_stages": float(
            sum(1 for st in ran if st.wall_s > 0.3 and st.n_tasks < cores)
        ),
    }
