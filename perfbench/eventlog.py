"""Executor task metrics per phase, read from a Spark event log the
way ``tools/build_task_metrics.py`` reads it: each task's run, CPU
and GC time, attributed to a phase through the job that ran its
stage."""

from __future__ import annotations

import glob
import json
import os


def log_files(event_dir: str) -> list[str]:
    paths = []
    for p in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if os.path.isdir(p):  # rolling event-log layout
            paths.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        else:
            paths.append(p)
    return paths


def task_metrics(lines, job_phase: dict[int, str]) -> dict[str, dict]:
    """Phase -> {"tasks", "run_ms", "cpu_ms", "gc_ms"} summed over the
    tasks of every job in ``job_phase``; ``lines`` are event-log JSON
    lines."""
    stage_phase: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            phase = job_phase.get(ev.get("Job ID"))
            if phase is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_phase[sid] = phase
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(ev.get("Stage ID"))
            if phase is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = out.setdefault(phase, {"tasks": 0, "run_ms": 0.0,
                                         "cpu_ms": 0.0, "gc_ms": 0.0})
            acc["tasks"] += 1
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
    return out


def read(event_dir: str, job_phase: dict[int, str]) -> dict[str, dict]:
    def lines():
        for p in log_files(event_dir):
            with open(p) as f:
                yield from f
    return task_metrics(lines(), job_phase)
