"""Offline folder for a local Spark event log.

Reads the plain JSON-lines log Spark writes with ``spark.eventLog.enabled``
when ``spark.eventLog.compress`` and ``spark.eventLog.rolling.enabled`` are
off (run.py sets both) and sums task metrics per job group and, when the
caller passes the waves' phase intervals, per (group, phase).

Executor CPU time is JVM task CPU only; the Python workers' CPU is read
from /proc by the caller.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_FIELDS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
           "input_bytes")


def log_files(log_dir: str) -> list[str]:
    """The event-log files in ``log_dir``, one per application (hidden
    checksum files skipped)."""
    return sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir)
                  if not f.startswith("."))


def phase_of(t_ms: float, start_ms: float,
             phases: list[tuple[str, float]]) -> str | None:
    """The phase whose cumulative interval [start + sum(before), start +
    sum(before) + dur) holds ``t_ms``; the last phase absorbs later times."""
    if t_ms < start_ms or not phases:
        return None
    edge = start_ms
    for name, dur_s in phases:
        edge += dur_s * 1000.0
        if t_ms < edge:
            return name
    return phases[-1][0]


def fold(paths: list[str],
         waves: dict[str, tuple[float, list[tuple[str, float]]]]) -> dict:
    """Sum task metrics over the logs in ``paths``.

    ``waves`` maps a job group id to (wall start in epoch ms, [(phase,
    seconds), ...] in execution order), i.e. a wave's returned timings.
    Returns {"total": {...}, "groups": {group: {...}},
    "phases": {(group, phase): {...}}}, each {...} holding
    ``jobs, tasks, executor_cpu_s, gc_s, shuffle_write_bytes, input_bytes``.
    Jobs without a group fall under the group ``""``.
    """
    stage_job: dict[int, int] = {}
    job_key: dict[int, tuple[str, str | None]] = {}
    tasks: list[tuple[int, dict]] = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    phase = None
                    if group in waves:
                        start_ms, phases = waves[group]
                        phase = phase_of(ev["Submission Time"], start_ms,
                                         phases)
                    job_key[job] = (group, phase)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"],
                                  ev.get("Task Metrics") or {}))

    total = dict.fromkeys(_FIELDS, 0.0)
    groups = defaultdict(lambda: dict.fromkeys(_FIELDS, 0.0))
    phases = defaultdict(lambda: dict.fromkeys(_FIELDS, 0.0))

    def buckets(key):
        group, phase = key
        out = [total, groups[group]]
        if phase is not None:
            out.append(phases[(group, phase)])
        return out

    for key in job_key.values():
        for b in buckets(key):
            b["jobs"] += 1
    for sid, m in tasks:
        job = stage_job.get(sid)
        key = job_key.get(job, ("", None))
        add = {
            "tasks": 1,
            "executor_cpu_s": (m.get("Executor CPU Time", 0)
                               + m.get("Executor Deserialize CPU Time", 0))
            / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
            .get("Shuffle Bytes Written", 0),
            "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        }
        for b in buckets(key):
            for k, v in add.items():
                b[k] += v
    return {"total": total, "groups": dict(groups), "phases": dict(phases)}


def sum_groups(folded: dict, prefix: str) -> dict:
    """Add up the groups whose id starts with ``prefix``."""
    out = dict.fromkeys(_FIELDS, 0.0)
    for group, vals in folded["groups"].items():
        if group.startswith(prefix):
            for k in _FIELDS:
                out[k] += vals[k]
    return out


def session_layers(sums: dict, python_cpu_s: float) -> dict:
    """The spark.* per-layer metrics from folded sums and the Python
    workers' CPU read from /proc."""
    return {"spark.executor_cpu_s": sums["executor_cpu_s"],
            "spark.python_cpu_s": python_cpu_s,
            "spark.gc_s": sums["gc_s"],
            "spark.shuffle_write_mb": sums["shuffle_write_bytes"] / 2**20,
            "spark.input_mb": sums["input_bytes"] / 2**20}
