"""Per-phase task metrics from Spark's local event log (traced runs only)."""

from __future__ import annotations

import json
import os

# SparkListenerTaskEnd "Task Metrics" fields -> (metric, scale to the unit)
_TASK_FIELDS = {
    "Executor Run Time": ("executor_run_s", 1e-3),
    "Executor CPU Time": ("executor_cpu_s", 1e-9),
    "JVM GC Time": ("gc_s", 1e-3),
    "Memory Bytes Spilled": ("spill_bytes", 1),
    "Disk Bytes Spilled": ("spill_bytes", 1),
}
METRICS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def conf(directory: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
    }


def phase_metrics(directory: str, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Sum task metrics per phase. A job belongs to the phase named in its
    job group (``pb/<phase>/...``, set by the benchmark's calling thread)
    or, failing that, to the phase whose time window holds its submission.
    Read after the session stops, when the log is complete."""
    phases = {name for name, _, _ in windows}
    out = {name: dict.fromkeys(METRICS, 0.0) for name in phases}
    stage_phase: dict[int, str] = {}
    for path in _event_files(directory):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    phase = _job_phase(ev, windows, phases)
                    if phase is None:
                        continue
                    out[phase]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_phase.setdefault(sid, phase)
                elif kind == "SparkListenerTaskEnd":
                    phase = stage_phase.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if phase is None or not tm:
                        continue
                    m = out[phase]
                    m["tasks"] += 1
                    for field, (name, scale) in _TASK_FIELDS.items():
                        m[name] += tm.get(field, 0) * scale
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return out


def _event_files(directory: str) -> list[str]:
    """The rolled event files (``eventlog_v2_<app>/events_<n>_<app>``) in
    write order."""
    found = []
    for dirpath, _, files in os.walk(directory):
        found += [(int(name.split("_")[1]), os.path.join(dirpath, name)) for name in files if name.startswith("events_")]
    return [path for _, path in sorted(found)]


def _job_phase(ev: dict, windows, phases) -> str | None:
    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
    parts = group.split("/")
    if len(parts) > 1 and parts[0] == "pb" and parts[1] in phases:
        return parts[1]
    t = ev.get("Submission Time", 0) / 1000.0
    for name, t0, t1 in windows:
        if t0 <= t <= t1:
            return name
    return None
