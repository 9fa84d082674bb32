"""Roll Spark's local event log up per job with stdlib ``json``.

The traced run writes an uncompressed, non-rolling event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``:
Spark 4.1 defaults to zstd, which the stdlib cannot read).  Each job
carries its job group (the query name, or a streaming ``runId``) and its
submission time; every task's metrics are attributed to the job that
submitted the task's stage.
"""

from __future__ import annotations

import json

#: per-task counters summed per job: name -> (extractor, scale to SI)
TASK_COUNTERS = {
    "executor_run_s": (lambda m: m["Executor Run Time"], 1e-3),
    "executor_cpu_s": (lambda m: m["Executor CPU Time"], 1e-9),
    "gc_s": (lambda m: m["JVM GC Time"], 1e-3),
    "result_bytes": (lambda m: m["Result Size"], 1),
    "spill_bytes": (lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"], 1),
    "input_bytes": (lambda m: m["Input Metrics"]["Bytes Read"], 1),
    "output_bytes": (lambda m: m["Output Metrics"]["Bytes Written"], 1),
    "output_records": (lambda m: m["Output Metrics"]["Records Written"], 1),
    "shuffle_read_bytes": (
        lambda m: m["Shuffle Read Metrics"]["Remote Bytes Read"]
        + m["Shuffle Read Metrics"]["Local Bytes Read"],
        1,
    ),
    "shuffle_fetch_wait_s": (lambda m: m["Shuffle Read Metrics"]["Fetch Wait Time"], 1e-3),
    "shuffle_write_bytes": (lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"], 1),
}


def _new_job(group: str | None, submitted_ms: int) -> dict:
    job = {"group": group, "submitted_ms": submitted_ms, "stages": 0, "tasks": 0, "task_overhead_s": 0.0}
    job.update(dict.fromkeys(TASK_COUNTERS, 0.0))
    return job


def rollup(path: str) -> dict[int, dict]:
    """Job id -> {group, submitted_ms, stages, tasks, task_overhead_s,
    and every :data:`TASK_COUNTERS` entry}."""
    jobs: dict[int, dict] = {}
    latest_job_of_stage: dict[int, int] = {}
    owner: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = _new_job(props.get("spark.jobGroup.id"), ev["Submission Time"])
                for sid in ev["Stage IDs"]:
                    latest_job_of_stage[sid] = jid
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in latest_job_of_stage:
                    owner[sid] = latest_job_of_stage[sid]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in owner:
                    jobs[owner[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(owner.get(ev["Stage ID"], -1))
                metrics = ev.get("Task Metrics")
                if job is None or not metrics:
                    continue
                info = ev["Task Info"]
                job["tasks"] += 1
                job["task_overhead_s"] += (
                    (info["Finish Time"] - info["Launch Time"]) - metrics["Executor Run Time"]
                ) * 1e-3
                for name, (get, scale) in TASK_COUNTERS.items():
                    job[name] += get(metrics) * scale
    return jobs
