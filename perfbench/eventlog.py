"""Per-window task metrics from a Spark event log.

The benchmark turns the event log on through ``get_spark(extra_conf=)``
(uncompressed, not rolling), and after the session stops it reads the
log back: every job is assigned to the time window it was submitted in,
and the SparkListenerTaskEnd metrics of that job's tasks are summed per
window name.
"""

from __future__ import annotations

import json
import statistics

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def read_events(path: str) -> tuple[dict[int, int], dict[int, int], list[dict]]:
    """(job id → submission ms, stage id → job id, task-end events)."""
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_submit[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    return job_submit, stage_job, task_ends


def window_metrics(path: str, windows: list[tuple[str, float, float]]) -> dict:
    """windows: (name, start, end) in epoch seconds; several windows may
    share a name. A job belongs to the window whose [start, end) holds its
    submission time; a job submitted outside every window is not counted.
    task_skew is the largest, over the Spark stages of a name's jobs, of
    the stage's max over median task run time."""
    job_submit, stage_job, task_ends = read_events(path)

    def name_of(job: int | None) -> str | None:
        if job is None:
            return None
        t = job_submit[job] / 1000.0
        for name, lo, hi in windows:
            if lo <= t < hi:
                return name
        return None

    out = {
        name: {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "jvm_gc_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
        for name, _, _ in windows
    }
    for job in job_submit:
        name = name_of(job)
        if name is not None:
            out[name]["jobs"] += 1
    run_ms: dict[tuple[str, int], list[int]] = {}  # (name, spark stage) → task times
    for ev in task_ends:
        name = name_of(stage_job.get(ev["Stage ID"]))
        m = ev.get("Task Metrics")
        if name is None or not m:
            continue
        acc = out[name]
        acc["tasks"] += 1
        run_ms.setdefault((name, ev["Stage ID"]), []).append(m["Executor Run Time"])
        acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
        acc["jvm_gc_s"] += m["JVM GC Time"] / 1e3
        acc["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
        acc["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
    for (name, _), times in run_ms.items():
        med = statistics.median(times)
        if med:
            out[name]["task_skew"] = max(out[name]["task_skew"], max(times) / med)
    return out
