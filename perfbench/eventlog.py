"""Fold a Spark event log into per-job-group metrics.

Spark 4 writes a rolling log directory ``eventlog_v2_<app>/events_<n>_<app>.zstd``
(or a single file when rolling is off), zstd-compressed by default.
``pyarrow.CompressedInputStream`` decodes zstd, so no extra dependency is
needed. Jobs map to spans through their ``spark.jobGroup.id`` property,
which the tracer sets per span.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

import pyarrow as pa

# per-task accumulables (SQL metrics) read from TaskEnd updates
_PY_TIME = "time to run Python workers"  # milliseconds
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order (rolling index)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


def read_events(path: str):
    """Yield the JSON events of one log file (plain or .zstd)."""
    if path.endswith(".inprogress"):
        raise ValueError(f"event log still in progress: {path}")
    if path.endswith(".zstd"):
        with pa.OSFile(path) as raw, pa.CompressedInputStream(raw, "zstd") as f:
            data = f.read()
    elif re.search(r"\.(lz4|lzf|snappy)$", path):
        raise ValueError(f"unsupported event-log codec: {path}")
    else:
        with open(path, "rb") as f:
            data = f.read()
    for line in data.decode().splitlines():
        if line.strip():
            yield json.loads(line)


def fold(events) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, retries, cpu_s, gc_s, py_s,
    py_bytes, shuffle_bytes, spill_bytes and straggler (max over median
    task time in the group's longest stage). Jobs without a group fold
    under ``""``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stage_span: dict[tuple, tuple] = {}  # (stage, attempt) -> (submit, done)
    task_ms: dict[int, list[int]] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[g] += 1
            for s in e["Stage IDs"]:
                # a later job lists a reused stage again (skipped): keep the
                # group of the job that ran it
                stage_group.setdefault(s, g)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            stage_span[key] = (si.get("Submission Time") or 0, si.get("Completion Time") or 0)
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            a = acc[stage_group.get(sid, "")]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            a["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed") or info.get("Killed"):
                a["retries"] += 1
            task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
            a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for u in info.get("Accumulables", []):
                name = u.get("Name")
                if name == _PY_TIME:
                    a["py_s"] += float(u.get("Update", 0)) / 1e3
                elif name in _PY_BYTES:
                    a["py_bytes"] += float(u.get("Update", 0))
    stage_s: dict[int, int] = {}
    for (sid, _att), (t0, t1) in stage_span.items():
        stage_s[sid] = max(stage_s.get(sid, 0), t1 - t0)
    stages_of: dict[str, list[int]] = defaultdict(list)
    for sid in stage_s:
        stages_of[stage_group.get(sid, "")].append(sid)
    out: dict[str, dict] = {}
    for g in set(jobs) | set(acc):
        m = {k: 0.0 for k in ("tasks", "retries", "cpu_s", "gc_s", "py_s",
                               "py_bytes", "shuffle_bytes", "spill_bytes")}
        m.update(acc.get(g, {}))
        sids = stages_of.get(g, [])
        m["jobs"] = jobs.get(g, 0)
        m["stages"] = len(sids)
        m["straggler"] = 0.0
        if sids:
            ts = task_ms.get(max(sids, key=stage_s.__getitem__), [])
            if ts:
                m["straggler"] = max(ts) / max(statistics.median(ts), 1)
        out[g] = m
    return out


def fold_dir(log_dir: str) -> dict[str, dict]:
    def events():
        for p in log_files(log_dir):
            yield from read_events(p)

    return fold(events())
