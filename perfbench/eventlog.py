"""Spark event-log reader for the traced run.

Reads the uncompressed, non-rolling JSON-lines log Spark writes when
``spark.eventLog.enabled`` is on, and returns one record per job: its job
group, submit/complete times and the sum of its tasks' metrics. Jobs are
attributed to spans by job group; jobs with no group (for example the
apply pipeline's quarantine write on its worker thread) are kept and
reported as unattributed.
"""

from __future__ import annotations

import json
import os

TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_write_bytes", "spill_bytes", "input_rows")


def find_log(event_dir: str) -> str:
    """The single application log in ``event_dir`` (in-progress logs, left
    by an application that did not stop, are not accepted)."""
    logs = [f for f in os.listdir(event_dir)
            if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, "
                           f"found {sorted(os.listdir(event_dir))}")
    return os.path.join(event_dir, logs[0])


def _task_metrics(tm: dict) -> dict:
    shuffle_w = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
        "spill_bytes": (tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)),
        "input_rows": inp.get("Records Read", 0),
    }


def parse(lines) -> list[dict]:
    """Job records from event-log lines: ``{"job": id, "group": str|None,
    "start": s, "end": s, **TASK_FIELDS}`` (times in epoch seconds)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"job": jid, "group": props.get("spark.jobGroup.id"),
                         "start": ev["Submission Time"] / 1e3, "end": None,
                         **{k: 0 for k in TASK_FIELDS}}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if jid is None or tm is None:
                continue
            for k, v in _task_metrics(tm).items():
                jobs[jid][k] += v
    for j in jobs.values():
        if j["end"] is None:  # never ended: count it as running to its start
            j["end"] = j["start"]
    return sorted(jobs.values(), key=lambda j: j["job"])


def read_jobs(event_dir: str) -> list[dict]:
    with open(find_log(event_dir)) as f:
        return parse(f)
