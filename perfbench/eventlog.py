"""Spark event log -> one row per job description.

Reads the uncompressed JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(rolling ``eventlog_v2_*`` directories or single files). Each job is keyed
by its ``spark.job.description`` property; each submitted stage belongs to
the latest started job that lists it, and each task to its stage.
"""

from __future__ import annotations

import json
import os
import statistics

_METRIC_FIELDS = ("jobs", "stages", "shuffle_map_stages", "tasks", "failed_tasks",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")


def read_events(log_dir: str) -> list[dict]:
    paths = []
    for dirpath, _, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files if not f.startswith(("appstatus", "."))]
    events = []
    for p in sorted(paths):
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def reduce_events(events: list[dict], windows: list[tuple[float, float]] | None = None) -> dict:
    """Description -> totals. ``windows`` (epoch seconds) keeps only jobs
    submitted inside one of them. A job with no description reduces under
    ``None``."""
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_ids_of: dict[int, list[int]] = {}
    stage_wall: dict[int, float] = {}
    task_ms: dict[int, list[int]] = {}
    rows: dict = {}

    def row(desc):
        return rows.setdefault(desc, {k: 0 for k in _METRIC_FIELDS} | {"skew": 0.0, "_stages": []})

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if windows is not None and not any(a <= t <= b for a, b in windows):
                continue
            jid = e["Job ID"]
            desc = (e.get("Properties") or {}).get("spark.job.description")
            job_desc[jid] = desc
            stage_ids_of[jid] = e["Stage IDs"]
            row(desc)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            owners = [j for j, ids in stage_ids_of.items() if sid in ids]
            if owners:
                stage_job[sid] = max(owners)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_job:
                r = row(job_desc[stage_job[sid]])
                r["stages"] += 1
                r["_stages"].append(sid)
                stage_wall[sid] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            r = row(job_desc[stage_job[sid]])
            r["tasks"] += 1
            if e["Task End Reason"].get("Reason") != "Success":
                r["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            r["gc_ms"] += m.get("JVM GC Time", 0)
            task_ms.setdefault(sid, []).append(m.get("Executor Run Time", 0))
            if e.get("Task Type") == "ShuffleMapTask" and len(task_ms[sid]) == 1:
                r["shuffle_map_stages"] += 1

    for r in rows.values():
        stages = r.pop("_stages")
        # skew of the stage that held the most wall time: slowest task over
        # the median task
        timed = [s for s in stages if len(task_ms.get(s, ())) >= 2]
        if timed:
            top = max(timed, key=lambda s: stage_wall.get(s, 0))
            med = statistics.median(task_ms[top])
            r["skew"] = max(task_ms[top]) / med if med > 0 else 0.0
    return rows


def total(rows: dict) -> dict:
    """Sum of all rows."""
    out = {k: 0 for k in _METRIC_FIELDS}
    for r in rows.values():
        for k in _METRIC_FIELDS:
            out[k] += r[k]
    return out
