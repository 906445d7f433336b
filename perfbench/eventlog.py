"""Reader for Spark's uncompressed JSON event log.

Turns one application's event log into per-window engine counters: jobs,
stages, tasks, failed tasks, executor run/CPU/GC time, shuffle and spill
bytes, the wall time during which no task ran (driver work and stage
barriers), and the share of core time tasks kept busy.  Job descriptions
(set by the tracer through ``setJobDescription``) attribute jobs to spans.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    start_ms: int
    description: str = ""
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    start_ms: int
    end_ms: int
    failed: bool
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill_disk: int
    input_bytes: int
    accums: list[tuple[int, int]]  # (accumulator id, update)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stages: set[tuple[int, int]] = field(default_factory=set)  # (stage, attempt)
    stage_job: dict[int, int] = field(default_factory=dict)
    # "number of output rows" accumulator -> name of the plan node it counts
    row_metric_node: dict[int, str] = field(default_factory=dict)
    # row accumulators of the joins that feed a Jaccard verify step
    candidate_accs: set[int] = field(default_factory=set)


def find_log(log_dir: str, app_id: str) -> str:
    """The (single, non-rolling) event-log file of ``app_id``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return max(paths, key=os.path.getmtime)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    return Task(
        stage_id=ev.get("Stage ID", -1),
        start_ms=info.get("Launch Time", 0),
        end_ms=info.get("Finish Time", 0),
        failed=bool(info.get("Failed", False)),
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_disk=m.get("Disk Bytes Spilled", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
        accums=_updates(info),
    )


def _updates(info: dict) -> list[tuple[int, int]]:
    out = []
    for a in info.get("Accumulables", []):
        try:
            out.append((a["ID"], int(a["Update"])))
        except (KeyError, TypeError, ValueError):
            pass  # non-numeric accumulators (e.g. string-valued internals)
    return out


SQL = "org.apache.spark.sql.execution.ui."
FILE_SCAN = re.compile(r"^Scan (parquet|json|csv|orc|text|avro)\b")


JACCARD = ("array_intersect(", "array_union(")


def _rows_acc(node: dict) -> int | None:
    return next((m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == "number of output rows"), None)


def _first(nodes: list[dict], name: str) -> dict | None:
    """The shallowest node called ``name`` in the trees ``nodes``."""
    queue = list(nodes)
    while queue:
        node = queue.pop(0)
        if node.get("nodeName") == name:
            return node
        queue.extend(node.get("children", []))
    return None


def _candidate_join(node: dict) -> dict | None:
    """For a Jaccard verify step, the join whose output rows are the
    candidate pairs: with the Jaccard in a join's condition, the join that
    builds that join's broadcast side; with it in a Filter, the join below."""
    if not all(f in node.get("simpleString", "") for f in JACCARD):
        return None
    if node.get("nodeName") == "Filter":
        return _first(node.get("children", []), "BroadcastHashJoin")
    if node.get("nodeName") == "BroadcastHashJoin":
        build = _first(node.get("children", []), "BroadcastExchange")
        return _first([build], "BroadcastHashJoin") if build else None
    return None


def _record_plan(log: EventLog, plan: dict) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        for metric in node.get("metrics", []):
            if metric.get("name") == "number of output rows":
                log.row_metric_node[metric["accumulatorId"]] = node.get("nodeName", "")
        cand = _candidate_join(node)
        if cand is not None and _rows_acc(cand) is not None:
            log.candidate_accs.add(_rows_acc(cand))
        stack.extend(node.get("children", []))


def _jobs(log: EventLog, start_ms: float, end_ms: float) -> list[Job]:
    return [j for j in log.jobs.values() if start_ms <= j.start_ms <= end_ms]


def _tasks(log: EventLog, jobs: list[Job]) -> list[Task]:
    job_ids = {j.job_id for j in jobs}
    return [t for t in log.tasks if log.stage_job.get(t.stage_id) in job_ids]


def _node_rows(log: EventLog, jobs: list[Job]) -> list[tuple[str, int]]:
    """(plan node name, output rows) of every operator the jobs' tasks ran;
    operators of cached plans built earlier get no updates and drop out."""
    rows: dict[int, int] = {}
    for t in _tasks(log, jobs):
        for acc_id, update in t.accums:
            if acc_id in log.row_metric_node:
                rows[acc_id] = rows.get(acc_id, 0) + update
    return [(log.row_metric_node[a], n) for a, n in rows.items()]


def candidate_pairs(log: EventLog, description: str) -> int | None:
    """Candidate pairs that the Jaccard verify steps of the jobs with
    ``description`` read, or None when those jobs ran no such step."""
    jobs = [j for j in log.jobs.values() if j.description == description]
    updates = [n for t in _tasks(log, jobs) for acc, n in t.accums if acc in log.candidate_accs]
    return sum(updates) if updates else None


def _events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def parse(path: str) -> EventLog:
    log = EventLog()
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                start_ms=ev.get("Submission Time", 0),
                description=props.get("spark.job.description", "") or "",
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            log.jobs[job.job_id] = job
            for s in job.stage_ids:
                log.stage_job[s] = job.job_id
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            log.stages.add((info.get("Stage ID"), info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
        elif kind in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _record_plan(log, ev.get("sparkPlanInfo") or {})
    return log


def _busy_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of intervals."""
    total = 0
    cur_s = cur_e = None
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


def window_metrics(log: EventLog, start_ms: float, end_ms: float, cores: int) -> dict[str, float]:
    """Engine counters for jobs submitted inside ``[start_ms, end_ms]``."""
    jobs = _jobs(log, start_ms, end_ms)
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = _tasks(log, jobs)
    wall_ms = max(1.0, end_ms - start_ms)
    task_ms = sum(t.end_ms - t.start_ms for t in tasks)
    busy = _busy_ms([(max(t.start_ms, start_ms), min(t.end_ms, end_ms)) for t in tasks if t.end_ms > t.start_ms])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len({(s, a) for s, a in log.stages if s in stage_ids}),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t.failed for t in tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spark.spill_disk_bytes": sum(t.spill_disk for t in tasks),
        "sources.input_bytes": sum(t.input_bytes for t in tasks),
        "sources.scan_count": sum(1 for name, _ in _node_rows(log, jobs) if FILE_SCAN.match(name)),
        "spark.serial_s": (wall_ms - busy) / 1e3,
        "spark.core_busy_ratio": task_ms / (wall_ms * cores),
    }
