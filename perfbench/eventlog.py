"""Stdlib reader for an uncompressed Spark event log.

Folds task and stage events into one record per job group. The
benchmark tags every span with its own job group, so a record is the
Spark work that one span launched.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GROUP_PROPERTY = "spark.jobGroup.id"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def _new_record() -> dict:
    rec = {k: 0 for k in COUNTERS}
    rec["stage_windows"] = []
    return rec


def _add_task_metrics(rec: dict, m: dict) -> None:
    rec["tasks"] += 1
    rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    write = m.get("Shuffle Write Metrics") or {}
    rec["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
    rec["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def fold_lines(lines) -> dict[str, dict]:
    """Fold event-log JSON lines into ``{job_group: record}``. Events
    outside any job group fold under the empty-string key. A stage's
    wall window is kept as ``(submitted, completed)`` epoch seconds
    for the residual computation."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict] = defaultdict(_new_record)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROPERTY) or ""
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP_PROPERTY) or ""
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            metrics = ev.get("Task Metrics")
            if metrics:
                _add_task_metrics(out[stage_group.get(key, "")], metrics)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]), "")
            rec = out[group]
            rec["stages"] += 1
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            if sub is not None and done is not None:
                rec["stage_windows"].append((sub / 1e3, done / 1e3))
    return dict(out)


def _app_logs(path: str) -> list[list[str]]:
    """Each application's log as its ordered list of files: a plain
    file, or the ``events_<n>_*`` parts of a rolled log directory."""
    apps = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full):
            parts = [p for p in os.listdir(full) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps.append([os.path.join(full, p) for p in parts])
        elif not name.endswith(".inprogress"):
            apps.append([full])
    return apps


def _lines(files):
    for name in files:
        with open(name) as f:
            yield from f


def fold_dir(path: str) -> dict[str, dict]:
    """Fold every finished application log under ``path``. Job groups
    are unique per run, so records of different applications never
    collide."""
    merged: dict[str, dict] = {}
    for files in _app_logs(path):
        for group, rec in fold_lines(_lines(files)).items():
            dst = merged.setdefault(group, _new_record())
            for k in COUNTERS:
                dst[k] += rec[k]
            dst["stage_windows"].extend(rec["stage_windows"])
    return merged


def union_seconds(windows, lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in windows):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
