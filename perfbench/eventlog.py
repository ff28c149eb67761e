"""Turn a Spark event log (uncompressed JSON lines) into per-layer
measures.

The traced run records, for every timed call, its wall-clock window in
epoch milliseconds. The calls run one after another from one client, so
a job, task, stage or streaming batch belongs to the call whose window
holds its start time. Jobs that streaming queries run on their own
threads carry no caller job group, which is why attribution is by time
and not by group.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

MB = 1 << 20
PYTHON_TIMES = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
WANTED = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SparkListenerStageCompleted",
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
}


def log_files(eventlog_dir: str) -> list[str]:
    """The event-log file(s) under ``eventlog_dir``: a plain file per
    application, or the ``events_*`` parts of a rolling log."""
    found = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if os.path.isdir(path):
            found += sorted(glob.glob(os.path.join(path, "events_*")))
        elif not path.endswith((".inprogress", ".crc")):
            found.append(path)
    return found


def parse(paths: list[str]) -> dict:
    """Collect the records the per-layer report needs."""
    jobs: dict[int, dict] = {}
    tasks, stages, batches = [], [], []
    for path in paths:
        with open(path) as f:
            for line in f:
                at = line.find('"Event":"') + 9  # first key of every record
                kind = line[at : line.find('"', at)]
                if kind not in WANTED:
                    continue
                e = json.loads(line)
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"],
                        "end": e["Submission Time"],
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    tasks.append(
                        {
                            "start": e["Task Info"]["Launch Time"],
                            "cpu_ns": m.get("Executor CPU Time", 0),
                            "deser_ms": m.get("Executor Deserialize Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Disk Bytes Spilled", 0),
                            "records_read": inp.get("Records Read", 0),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    py_ms = sum(
                        float(a.get("Value") or 0)
                        for a in info.get("Accumulables", [])
                        if a.get("Name") in PYTHON_TIMES
                    )
                    stages.append(
                        {"start": info.get("Submission Time", 0), "python_ms": py_ms}
                    )
                else:
                    p = e["progress"]
                    batches.append(
                        {
                            "start": _iso_ms(p["timestamp"]),
                            "ms": p.get("batchDuration")
                            or p.get("durationMs", {}).get("triggerExecution", 0),
                        }
                    )
    return {"jobs": list(jobs.values()), "tasks": tasks, "stages": stages, "batches": batches}


def _iso_ms(ts: str) -> int:
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def window_measures(log: dict, windows: list[tuple[int, int]], wall_s: float) -> dict:
    """Sum the log's work over a layer's call windows (epoch ms)."""

    def inside(t):
        return any(lo <= t <= hi for lo, hi in windows)

    jobs = [j for j in log["jobs"] if inside(j["start"])]
    tasks = [t for t in log["tasks"] if inside(t["start"])]
    stages = [s for s in log["stages"] if inside(s["start"])]
    batches = [b["ms"] for b in log["batches"] if inside(b["start"])]
    job_ms = sum(
        _covered_ms([(j["start"], j["end"]) for j in jobs], lo, hi) for lo, hi in windows
    )
    return {
        "self_s": wall_s,
        "driver_s": max(0.0, wall_s - job_ms / 1000.0),
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "deser_s": sum(t["deser_ms"] for t in tasks) / 1000.0,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / MB,
        "spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
        "python_s": sum(s["python_ms"] for s in stages) / 1000.0,
        "records_read": sum(t["records_read"] for t in tasks),
        "batch_ms": batches,
    }
