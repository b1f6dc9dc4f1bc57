"""Spark event-log parsing and span arithmetic for the traced run.

The traced process runs with an uncompressed local event log (enabled through
launch confs, outside the program). Every harness phase runs under its own
job group ``p<pass>:<unit>:<phase>``; the log's jobs and stages become spans
parented by that phase, and task metrics are summed per phase.
"""

from __future__ import annotations

import json
from collections import defaultdict

EXEC_FIELDS = [
    "run_s", "cpu_s", "python_s", "gc_s", "deser_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "tasks", "tasks_failed",
]


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    run_s = m.get("Executor Run Time", 0) / 1e3
    cpu_s = m.get("Executor CPU Time", 0) / 1e9
    ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
    return {
        "run_s": run_s,
        "cpu_s": cpu_s,
        "python_s": max(0.0, run_s - cpu_s),
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "tasks": 1,
        "tasks_failed": 0 if ok else 1,
    }


def parse(lines) -> tuple[dict, list[dict]]:
    """Event-log lines -> (executor totals per job id, job and stage spans).

    Spans carry epoch seconds. A job span's parent is its job group (the
    ``group`` field keeps it); a stage span's parent is the first job that
    lists the stage."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    totals: dict[int, dict] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "ungrouped"
            jobs[jid] = {"name": f"job{jid}", "kind": "job", "parent": group, "group": group,
                         "start": ev["Submission Time"] / 1e3, "end": None, "job": jid}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if "Submission Time" in info and "Completion Time" in info and sid in stage_job:
                stages[sid] = {"name": f"stage{sid}", "kind": "stage",
                               "parent": f"job{stage_job[sid]}",
                               "start": info["Submission Time"] / 1e3,
                               "end": info["Completion Time"] / 1e3}
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            acc = totals[stage_job[ev["Stage ID"]]]
            for k, v in _task_metrics(ev).items():
                acc[k] += v
    spans = [j for j in jobs.values() if j["end"] is not None] + list(stages.values())
    return dict(totals), spans


def by_phase(job_totals: dict, spans: list[dict], phases: list[dict]) -> dict[str, dict]:
    """Sum executor totals per harness phase. A job belongs to the phase
    named by its job group; a job launched from another thread (a streaming
    micro-batch runs under its query's own group) belongs to the phase whose
    span holds its submission time, and its span is re-parented there."""
    names = {p["name"] for p in phases}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))
    for s in spans:
        if s["kind"] != "job" or s["job"] not in job_totals:
            continue
        phase = s["group"] if s["group"] in names else next(
            (p["name"] for p in phases if p["start"] <= s["start"] <= p["end"]), None
        )
        if phase is None:
            continue
        s["parent"] = phase
        for k, v in job_totals[s["job"]].items():
            out[phase][k] += v
    return dict(out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the union of its children's intervals
    (children clipped to the parent; overlapping children count once)."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    by_name = {s["name"]: s for s in spans}
    for s in spans:
        p = by_name.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                children[p["name"]].append((lo, hi))
    return {
        s["name"]: max(0.0, (s["end"] - s["start"]) - _union_length(children[s["name"]]))
        for s in spans
    }
