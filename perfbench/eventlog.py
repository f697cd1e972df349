"""Fold a Spark event log into per-job-group totals, with stdlib json.

The log is written uncompressed (``spark.eventLog.compress=false``),
either as one file or as a rolled ``eventlog_v2_<app>/events_<n>_<app>``
directory. Every job carries the ``spark.jobGroup.id`` property the
benchmark set around the operation that ran it; streaming queries tag
their own jobs with the query's run id.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

FIELDS = ("jobs", "stages", "tasks", "task_s", "gc_s", "input_bytes",
          "shuffle_bytes", "spill_bytes")


def log_files(path: str) -> list[str]:
    """The event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            parts.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(parts)]


def find_logs(log_dir: str) -> list[str]:
    """Every application log under a ``spark.eventLog.dir``."""
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        os.path.join(log_dir, n) for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".crc")
    )


def read_events(path: str):
    for fn in log_files(path):
        with open(fn) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(events) -> dict[str, dict[str, float]]:
    """Totals per job group: jobs, stages, tasks, task seconds, GC
    seconds, input, shuffle-write and spill bytes. Jobs without a group
    fold under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = out[stage_group.get(e.get("Stage ID"), "")]
            t["tasks"] += 1
            t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return dict(out)


def fold_dir(log_dir: str) -> dict[str, dict[str, float]]:
    """``fold`` over every application log under ``log_dir``."""
    total: dict[str, dict[str, float]] = {}
    for path in find_logs(log_dir):
        for group, t in fold(read_events(path)).items():
            acc = total.setdefault(group, dict.fromkeys(FIELDS, 0))
            for k in FIELDS:
                acc[k] += t[k]
    return total


def sum_groups(groups: dict[str, dict], pick) -> dict[str, float]:
    """Sum the totals of every group whose id satisfies ``pick``."""
    acc = dict.fromkeys(FIELDS, 0)
    for group, t in groups.items():
        if pick(group):
            for k in FIELDS:
                acc[k] += t[k]
    return acc
