"""Fold a Spark event log into one cost record per job group.

The traced run tags every benchmark operation with ``setJobGroup(<op>)``
and writes an uncompressed event log. This module reads that log and
sums, per job group, what the tasks of its stages did: executor CPU,
run and GC time, "time to run Python workers", bytes to and from Python
workers, shuffle bytes, spill, and the job/stage/task counts. Driver
wall and CPU time come from the benchmark's own spans around the call;
``driver_only_s`` is that wall time minus the union of the op's task
intervals (the time no task of the op was running).
"""

from __future__ import annotations

import glob
import json
import os

#: every field of a per-op record, in output order, with its unit
FIELDS = {
    "wall_s": "s",
    "driver_only_s": "s",
    "driver_cpu_s": "s",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "gc_s": "s",
    "python_run_s": "s",
    "python_bytes_out": "bytes",
    "python_bytes_in": "bytes",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "calls": "count",
}

# SQL metrics of the Python-evaluating plan nodes (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas ...), reported per task
_PY_RUN_MS = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def find_log(log_dir: str) -> str:
    """The single plain event-log file in ``log_dir``."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(f) and not f.endswith(".crc")
    ]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def read_events(path: str) -> list:
    """Parsed events of one event-log file."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, windows):
    """Pieces of ``intervals`` that fall inside any of ``windows``."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def fold(events: list, spans: dict) -> dict:
    """Per-group totals.

    ``spans`` maps a job group to its calls, each a dict with ``t0`` and
    ``t1`` (epoch seconds, driver clock) and ``cpu_s`` (driver process
    CPU seconds spent in the call). Groups in ``spans`` with no Spark
    work still get a record (all executor fields 0)."""
    stage_group: dict = {}
    recs = {g: dict.fromkeys(FIELDS, 0.0) for g in spans}
    task_iv: dict = {g: [] for g in spans}
    stages_seen: dict = {g: set() for g in spans}

    def rec(group):
        return recs.get(group)

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            if rec(group) is not None:
                rec(group)["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[info["Stage ID"]] = group
            if group in stages_seen:
                stages_seen[group].add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            r = rec(group)
            if r is None:
                continue
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            r["tasks"] += 1
            task_iv[group].append((ti["Launch Time"] / 1e3, ti["Finish Time"] / 1e3))
            r["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            r["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            r["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            r["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in ti.get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_RUN_MS:
                    r["python_run_s"] += int(acc.get("Update", 0)) / 1e3
                elif name == _PY_SENT:
                    r["python_bytes_out"] += int(acc.get("Update", 0))
                elif name == _PY_RECV:
                    r["python_bytes_in"] += int(acc.get("Update", 0))

    for group, calls in spans.items():
        r = recs[group]
        windows = [(c["t0"], c["t1"]) for c in calls]
        r["calls"] = len(calls)
        r["wall_s"] = sum(e - s for s, e in windows)
        r["driver_cpu_s"] = sum(c["cpu_s"] for c in calls)
        busy = union_length(_clip(task_iv[group], windows))
        r["driver_only_s"] = max(r["wall_s"] - busy, 0.0)
        r["stages"] = len(stages_seen[group])
    return recs


def per_call(record: dict) -> dict:
    """Per-call means of a folded record (``calls`` itself is kept)."""
    n = max(record["calls"], 1)
    return {k: (v if k == "calls" else v / n) for k, v in record.items()}
