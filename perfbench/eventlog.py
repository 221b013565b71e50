"""Spark event-log reader: job group → jobs → stages → task totals.

Reads the single uncompressed event-log file Spark writes for an
application and sums task metrics per job group:

    jobs, tasks, run_s (executor run), cpu_s, gc_s, python_run_s (the
    SQL metric "time to run Python workers"), shuffle_write_mb,
    spill_mb (disk), input_mb

A job's group is its ``spark.jobGroup.id`` property; a job with no group
that a streaming query ran is put in ``streaming``; anything else in
``(none)``.  A task is charged to the group of the latest job that listed
its stage, which is the job that ran it when jobs do not overlap.
"""

from __future__ import annotations

import json
from collections import defaultdict

_MB = 1024 * 1024
_UNGROUPED = "(none)"
_STREAMING = "streaming"

FIELDS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "python_run_s",
          "shuffle_write_mb", "spill_mb", "input_mb")


def iter_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _group_of(props: dict) -> str:
    group = props.get("spark.jobGroup.id")
    if group:
        return group
    if any("streaming" in k and "queryId" in k for k in props):
        return _STREAMING
    return _UNGROUPED


def read_groups(path: str) -> dict[str, dict[str, float]]:
    """Per-job-group totals (see module docstring for the fields)."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    for ev in iter_events(path):
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev.get("sparkPlanInfo", {}), metric_type)
        elif kind == "SparkListenerJobStart":
            group = _group_of(ev.get("Properties") or {})
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = groups[stage_group.get(sid, _UNGROUPED)]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            g["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    scale = 1e9 if metric_type.get(acc.get("ID")) == "nsTiming" else 1e3
                    g["python_run_s"] += float(acc.get("Update") or 0) / scale
    return {k: dict(v) for k, v in groups.items()}


def total(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    """Field-wise sum over the groups."""
    return {k: sum(g.get(k, 0.0) for g in groups.values()) for k in FIELDS}


def layer_line(groups: dict[str, dict[str, float]]) -> str:
    """One compact line: ``group jobs/tasks cpu gc py shuf spill`` per group."""
    parts = []
    for name in sorted(groups, key=lambda n: -groups[n]["run_s"]):
        g = groups[name]
        parts.append(
            f"{name}[j={g['jobs']:.0f} t={g['tasks']:.0f} run={g['run_s']:.2f}s "
            f"cpu={g['cpu_s']:.2f}s gc={g['gc_s']:.2f}s py={g['python_run_s']:.2f}s "
            f"shw={g['shuffle_write_mb']:.1f}MB spill={g['spill_mb']:.1f}MB "
            f"in={g['input_mb']:.1f}MB]")
    return " ".join(parts)
