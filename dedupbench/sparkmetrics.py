"""Spark's own task metrics, rolled up per job group.

Two readers with one output shape:

- `live_group_totals` asks the driver's in-memory status store (no event
  log needed), for the untimed bookkeeping after each end-to-end call.
- `event_log_rollup` reads an uncompressed, non-rolling Spark event log
  with the standard library only and rolls `SparkListenerTaskEnd` up per
  `spark.jobGroup.id`, for the traced run.

Executor run time includes Python-worker time and I/O wait; executor CPU
time counts JVM threads only, so `task_s - cpu_s` is the share spent
outside the JVM's CPU (Python UDF workers, disk, waiting).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from py4j.protocol import Py4JJavaError

MB = 1e6
UNATTRIBUTED = "unattributed"
UNGROUPED = "ungrouped"  # jobs submitted with no job group at all

# one rollup row: what every layer reports from Spark's task metrics
EMPTY = {
    "tasks": 0,
    "task_s": 0.0,
    "cpu_s": 0.0,
    "gc_s": 0.0,
    "shuffle_write_mb": 0.0,
    "shuffle_read_mb": 0.0,
    "spill_mb": 0.0,
    "task_skew": 0.0,
}


def live_group_totals(spark, group: str) -> dict:
    """Task totals of every stage run by the jobs of one job group, read
    from the live status store (`spark.ui.retainedStages` must exceed the
    stage count of the group, or early stages are evicted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(EMPTY)
    for stage_id in stage_ids:
        try:
            stage = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage never ran (skipped) or was evicted
            continue
        out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
        out["task_s"] += stage.executorRunTime() / 1e3
        out["cpu_s"] += stage.executorCpuTime() / 1e9
        out["gc_s"] += stage.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
        out["spill_mb"] += stage.diskBytesSpilled() / MB
    return out


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id") or None


def event_log_rollup(path: str) -> tuple[dict[str, dict], dict[str, list[str]]]:
    """({group: rollup}, {group: [job call sites]}) from one event log.

    A stage belongs to the job group in the properties it was submitted
    with; stages submitted without one fall back to the group of the job
    that lists them, else to `ungrouped`."""
    stage_group: dict[int, str] = {}
    job_stage_group: dict[int, str] = {}
    call_sites: dict[str, list[str]] = defaultdict(list)
    task_rows: list[tuple[int, dict]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerTaskEnd":
                task_rows.append((event["Stage ID"], event.get("Task Metrics") or {}))
            elif kind == "SparkListenerStageSubmitted":
                group = _group_of(event.get("Properties"))
                if group:
                    stage_group[event["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                group = _group_of(props) or UNGROUPED
                call_sites[group].append(props.get("callSite.short", ""))
                for stage_id in event.get("Stage IDs", []):
                    job_stage_group.setdefault(stage_id, group)

    per_group: dict[str, list[dict]] = defaultdict(list)
    for stage_id, metrics in task_rows:
        group = stage_group.get(stage_id) or job_stage_group.get(stage_id) or UNGROUPED
        per_group[group].append(metrics)
    return {g: _rollup(ms) for g, ms in per_group.items()}, dict(call_sites)


def _rollup(task_metrics: list[dict]) -> dict:
    out = dict(EMPTY)
    run_ms = []
    for m in task_metrics:
        run = m.get("Executor Run Time", 0)
        run_ms.append(run)
        out["task_s"] += run / 1e3
        out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        write = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_mb"] += write.get("Shuffle Bytes Written", 0) / MB
        read = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_mb"] += (
            read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
        ) / MB
    out["tasks"] = len(run_ms)
    median = statistics.median(run_ms) if run_ms else 0
    out["task_skew"] = max(run_ms) / median if median > 0 else 0.0
    return out
