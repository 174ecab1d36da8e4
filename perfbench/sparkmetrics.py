"""Spark-side layer numbers from a Spark event log.

The traced run starts its session with ``spark.eventLog.enabled`` and
tags each measured section with a job group; :func:`read_tasks` returns
one record per finished task with its job group, and :func:`summarize`
adds them up. The Python UDF metrics ("time to start Python workers"
and friends) are SQL metrics: their units come from the plan's metric
types, which the SQL execution events carry. The log is complete only
after the session has stopped.
"""
from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

# SQL metric name → key in Task.python
PYTHON_METRICS = {
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "total_s",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
}
_UNIT = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class Task:
    group: str
    wall_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    output_bytes: int
    python: dict = field(default_factory=dict)  # empty unless a Python stage


def _plan_metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", []):
        _plan_metric_types(child, out)


def _event_files(log_dir: Path) -> list[Path]:
    # Spark 4 writes one directory per application (eventlog_v2_<app>)
    # holding events_<n>_<app> files; take the newest application
    apps = sorted(log_dir.glob("eventlog_v2_*"), key=lambda p: p.stat().st_mtime)
    if not apps:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return sorted(apps[-1].glob("events_*"), key=lambda p: int(p.name.split("_")[1]))


def read_tasks(log_dir: Path) -> list[Task]:
    """Every finished task of the newest application in log_dir. Jobs run
    outside any job group get group ""."""
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    ends = []
    for path in _event_files(Path(log_dir)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metric_types(ev["sparkPlanInfo"], metric_type)
                elif kind == "SparkListenerTaskEnd":
                    ends.append(ev)

    tasks = []
    for ev in ends:
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        python: dict[str, float] = {}
        for acc in info.get("Accumulables", []):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key is not None and "Update" in acc:
                scale = _UNIT.get(metric_type.get(acc["ID"]), 1)
                python[key] = python.get(key, 0.0) + float(acc["Update"]) * scale
        tasks.append(Task(
            group=stage_group.get(ev["Stage ID"], ""),
            wall_s=(info["Finish Time"] - info["Launch Time"]) / 1e3,
            run_s=tm.get("Executor Run Time", 0) / 1e3,
            cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
            gc_s=tm.get("JVM GC Time", 0) / 1e3,
            shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            spill_bytes=tm.get("Disk Bytes Spilled", 0),
            output_bytes=(tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            python=python,
        ))
    return tasks


def summarize(tasks: list[Task]) -> dict:
    """Sums and task-time percentiles over a set of tasks."""
    walls = [t.wall_s for t in tasks]
    p50 = statistics.median(walls) if walls else 0.0
    out = {
        "tasks": len(tasks),
        "run_s": sum(t.run_s for t in tasks),
        "cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "output_bytes": sum(t.output_bytes for t in tasks),
        "task_s.p50": p50,
        "task_s.max": max(walls, default=0.0),
        "task_skew": max(walls) / p50 if p50 else 0.0,
    }
    for key in PYTHON_METRICS.values():
        out[f"python.{key}"] = sum(t.python.get(key, 0.0) for t in tasks)
    return out
