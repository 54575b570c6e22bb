"""Spark event-log parser: per-span sums of jobs, stages and task metrics.

The benchmark tags every job it causes with the id of the span that caused
it (the ``perfbench.span`` local property, which Spark copies into the
``Properties`` of each job-start and stage-submitted event). This module
reads the uncompressed, non-rolling JSON-lines log Spark writes with
``spark.eventLog.enabled`` and sums, for any set of span ids, the counts and
task metrics the per-layer report needs. Only the five event types used here
are decoded; the large SQL plan events are skipped by a prefix test before
any JSON parsing.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

SPAN_PROPERTY = "perfbench.span"

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


@dataclass
class Task:
    span: str | None
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    sched_delay_ms: int
    input_bytes: int
    input_rows: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    failed: bool


@dataclass
class EventLog:
    #: job id -> (span id, submission ms, completion ms)
    jobs: dict[int, list] = field(default_factory=dict)
    #: (stage id, attempt) -> span id, for stages that completed
    stages: dict[tuple[int, int], str | None] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _sched_delay_ms(info: dict, metrics: dict) -> int:
    """Scheduler delay as Spark's stage page computes it: task duration not
    spent deserializing, running, serializing or fetching the result."""
    launch, finish = info["Launch Time"], info["Finish Time"]
    getting = info.get("Getting Result Time", 0)
    getting_ms = finish - getting if getting > 0 else 0
    busy = (
        metrics.get("Executor Run Time", 0)
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + getting_ms
    )
    return max(0, finish - launch - busy)


def parse(path: str | Path) -> EventLog:
    """Decode the job, stage and task events of one application's log."""
    log = EventLog()
    stage_span: dict[tuple[int, int], str | None] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            head = line[:48]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                log.jobs[ev["Job ID"]] = [span, ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]][2] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_span[key] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                log.stages[key] = stage_span.get(key)
            else:  # SparkListenerTaskEnd
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                shuffle_read = m.get("Shuffle Read Metrics", {})
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                log.tasks.append(
                    Task(
                        span=stage_span.get(key),
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        sched_delay_ms=_sched_delay_ms(info, m),
                        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                        input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
                        shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        shuffle_read_bytes=shuffle_read.get("Remote Bytes Read", 0)
                        + shuffle_read.get("Local Bytes Read", 0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        failed=ev["Task End Reason"]["Reason"] != "Success",
                    )
                )
    return log


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def job_totals(log: EventLog, spans: set[str]) -> dict[str, float]:
    """Jobs caused by ``spans``: how many, and the wall they were running."""
    jobs = [j for j in log.jobs.values() if j[0] in spans]
    return {
        "jobs": len(jobs),
        "job_s": sum((end or start) - start for _, start, end in jobs) / 1000,
    }


def exec_totals(
    log: EventLog, windows: list[tuple[str, float, float]], cores: int
) -> dict[str, float]:
    """Stage and task sums for the jobs caused by the spans in ``windows``.

    ``windows`` are (span id, start, end) with the epoch seconds of each span
    as the benchmark timed it. Each window splits at its span's first job
    submission: ``prejob_s`` is the part before it (planning of the query
    that runs, and any other driver work ahead of it; all of a window whose
    span ran no job), and ``idle_s`` is the part after it in which no task
    of the span ran. ``core_util`` is task run time over the windows' total
    length times ``cores``.
    """
    spans = {sid for sid, _, _ in windows}
    tasks = [t for t in log.tasks if t.span in spans]
    first_job: dict[str, int] = {}
    for span, submitted, _ in log.jobs.values():
        if span in spans:
            first_job[span] = min(submitted, first_job.get(span, submitted))
    wall_s = prejob_ms = idle_ms = 0.0
    for sid, lo, hi in windows:
        wall_s += hi - lo
        lo_ms, hi_ms = lo * 1000, hi * 1000
        jobs_ms = min(max(first_job.get(sid, hi_ms), lo_ms), hi_ms)
        prejob_ms += jobs_ms - lo_ms
        busy_ms = _union_ms(
            [
                (max(t.launch_ms, jobs_ms), min(t.finish_ms, hi_ms))
                for t in tasks
                if t.span == sid and t.finish_ms > jobs_ms and t.launch_ms < hi_ms
            ]
        )
        idle_ms += max(0.0, hi_ms - jobs_ms - busy_ms)
    run_s = sum(t.run_ms for t in tasks) / 1000
    return {
        "wall_s": wall_s,
        **job_totals(log, spans),
        "stages": sum(1 for s in log.stages.values() if s in spans),
        "tasks": len(tasks),
        "prejob_s": prejob_ms / 1000,
        "idle_s": idle_ms / 1000,
        "task_run_s": run_s,
        "task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "sched_delay_s": sum(t.sched_delay_ms for t in tasks) / 1000,
        "core_util": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "input_bytes": sum(t.input_bytes for t in tasks),
        "input_rows": sum(t.input_rows for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "failed_tasks": sum(1 for t in tasks if t.failed),
    }
