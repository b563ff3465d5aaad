"""Fold a plain-JSON Spark event log into per-job-group figures.

The traced run tags every action with ``SparkContext.setJobGroup(span)``
and writes an uncompressed, non-rolling event log. Each stage carries its
job's local properties, so every finished task is attributed to the job
group of the stage it ran in. Standard library only.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# figures one span carries; names are the per-layer metric suffixes
FIGURES = ("jobs", "task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
           "shuffle_write_bytes", "spill_bytes", "input_records",
           "python_bytes_sent", "python_bytes_received", "task_skew")

_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def fold(lines) -> dict[str, dict[str, float]]:
    """Event-log lines -> {job group: {figure: value}}.

    ``task_skew`` is the longest task's run time over the median one
    (1.0 for a single task). Groups without tasks still count their jobs.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    run_ms: dict[str, list[float]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                jobs[group] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or m is None:
                continue
            a = acc[group]
            run_ms[group].append(_num(m["Executor Run Time"]))
            a["task_s"] += _num(m["Executor Run Time"]) / 1e3
            a["cpu_s"] += _num(m["Executor CPU Time"]) / 1e9
            a["gc_s"] += _num(m["JVM GC Time"]) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                        + _num(sr.get("Local Bytes Read")))
            a["shuffle_write_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            a["spill_bytes"] += (_num(m.get("Memory Bytes Spilled"))
                                 + _num(m.get("Disk Bytes Spilled")))
            a["input_records"] += _num(
                (m.get("Input Metrics") or {}).get("Records Read"))
            for u in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if u.get("Name") == _PY_SENT:
                    a["python_bytes_sent"] += _num(u.get("Update"))
                elif u.get("Name") == _PY_RECEIVED:
                    a["python_bytes_received"] += _num(u.get("Update"))
    out = {}
    for group in set(jobs) | set(acc):
        row = {f: 0.0 for f in FIGURES}
        row.update(acc.get(group, {}))
        row["jobs"] = float(jobs.get(group, 0))
        times = run_ms.get(group)
        if times:
            med = statistics.median(times)
            row["task_skew"] = max(times) / med if med > 0 else 1.0
        out[group] = row
    return out


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path, encoding="utf-8") as f:
        return fold(f)
