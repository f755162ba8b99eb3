"""Spark event log -> ``spark.*`` per-layer metrics, by job group.

Spark writes one JSON event per line. Jobs carry the job group that was
set when they were submitted (``spark.jobGroup.id``); the benchmark
names its groups after its spans (see ``tracing.group_id``). A job
whose group is not a span id (e.g. one launched by a streaming query's
own thread) is charged to the innermost span open at its submission
time. Tasks reach their job through their stage id.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from tracing import Span, group_id, union_length

# per-op sums reported as spark.<name>
SUM_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "scheduler_delay_s",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records",
    "output_bytes",
)


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir`` (plain or rolling layout)."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    events = []
    for p in sorted(paths):
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def task_metrics(ev: dict) -> dict:
    """Sums one SparkListenerTaskEnd contributes to its job."""
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0) / 1e3
    deser = m.get("Executor Deserialize Time", 0) / 1e3
    ser = m.get("Result Serialization Time", 0) / 1e3
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch = (finish - getting) / 1e3 if getting else 0.0
    duration = max(finish - launch, 0) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    failed = info.get("Failed", False) or ev.get("Task End Reason", {}).get("Reason") != "Success"
    return {
        "tasks": 1,
        "failed_tasks": int(bool(failed)),
        "scheduler_delay_s": max(0.0, duration - run - deser - ser - fetch),
        "executor_run_s": run,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def jobs_from_events(events: list[dict]) -> dict[int, dict]:
    """job id -> {group, submit, end (epoch s), stages, sums}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: dict[int, set] = defaultdict(set)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1e3,
                "end": ev["Submission Time"] / 1e3,
                "sums": defaultdict(float),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            stages_run[jid].add(ev["Stage ID"])
            for k, v in task_metrics(ev).items():
                jobs[jid]["sums"][k] += v
    for jid, job in jobs.items():
        job["sums"]["jobs"] = 1
        job["sums"]["stages"] = len(stages_run[jid])
    return jobs


def attribute(jobs: dict[int, dict], spans: list[Span]) -> dict[int, int]:
    """job id -> span id (by job group, else innermost open span)."""
    by_group = {group_id(s.span_id): s.span_id for s in spans}
    out = {}
    for jid, job in jobs.items():
        sid = by_group.get(job["group"])
        if sid is None:
            open_spans = [s for s in spans if s.start <= job["submit"] <= s.end]
            if open_spans:
                sid = max(open_spans, key=lambda s: s.start).span_id
        if sid is not None:
            out[jid] = sid
    return out


def op_roots(spans: list[Span]) -> dict[int, Span]:
    """op id -> its root span (the op's outermost span)."""
    return {s.op_id: s for s in spans if s.parent is None and s.op_id >= 0}


def per_op(jobs: dict[int, dict], spans: list[Span]) -> dict[int, dict]:
    """op id -> spark.* sums, plus driver_gap_s (op wall time minus the
    union of its jobs' submit-to-complete intervals)."""
    span_by_id = {s.span_id: s for s in spans}
    roots = op_roots(spans)
    owner = attribute(jobs, spans)
    sums: dict[int, dict] = {op: defaultdict(float) for op in roots}
    intervals: dict[int, list] = defaultdict(list)
    for jid, sid in owner.items():
        op = span_by_id[sid].op_id
        if op not in roots:
            continue
        for k, v in jobs[jid]["sums"].items():
            sums[op][k] += v
        r = roots[op]
        intervals[op].append((max(jobs[jid]["submit"], r.start), min(jobs[jid]["end"], r.end)))
    for op, r in roots.items():
        sums[op]["driver_gap_s"] = r.duration - union_length(intervals[op])
        sums[op]["wall_s"] = r.duration
    return {op: dict(v) for op, v in sums.items()}


def summarize(ops: dict[int, dict], cores: int) -> dict[str, float]:
    """Per-op means of every sum, plus the core busy ratio."""
    n = max(len(ops), 1)
    out = {f"spark.{k}": sum(o.get(k, 0.0) for o in ops.values()) / n for k in SUM_KEYS}
    out["spark.driver_gap_s"] = sum(o["driver_gap_s"] for o in ops.values()) / n
    wall = sum(o["wall_s"] for o in ops.values())
    busy = sum(o.get("executor_run_s", 0.0) for o in ops.values())
    out["spark.core_busy_ratio"] = busy / (cores * wall) if wall > 0 else 0.0
    return out


def jobs_in_spans(jobs: dict[int, dict], spans: list[Span], name: str) -> float:
    """Mean number of Spark jobs charged directly to spans called ``name``."""
    owner = attribute(jobs, spans)
    ids = {s.span_id for s in spans if s.name == name}
    if not ids:
        return 0.0
    return sum(1 for sid in owner.values() if sid in ids) / len(ids)
