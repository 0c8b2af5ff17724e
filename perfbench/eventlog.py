"""Task metrics per job group from a Spark event log (JSON lines).

The traced build tags each layer's jobs with ``setJobGroup``; the
event log records the job group in each ``SparkListenerJobStart``'s
properties and one ``SparkListenerTaskEnd`` per task.
"""

from __future__ import annotations

import json
import os
import statistics


def task_metrics(event_dir: str) -> dict[str, dict[int, list[dict]]]:
    """job group -> stage id -> [task metric dicts]."""
    stage_group: dict[int, str] = {}
    tasks: list[tuple[int, dict]] = []
    for name in os.listdir(event_dir):
        with open(os.path.join(event_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    out: dict[str, dict[int, list[dict]]] = {}
    for sid, m in tasks:
        group = stage_group.get(sid)
        if group is not None:
            out.setdefault(group, {}).setdefault(sid, []).append(m)
    return out


def layer_totals(stages: dict[int, list[dict]]) -> dict[str, float]:
    """Sums over every task of a layer's stages, and the task skew
    (max / median run time) of its stage with the most run time."""
    all_tasks = [t for ts in stages.values() for t in ts]
    total = lambda f: sum(f(t) for t in all_tasks)
    out = {
        "shuffle_write_mb": total(lambda t: t.get("Shuffle Write Metrics", {})
                                  .get("Shuffle Bytes Written", 0)) / 2**20,
        "spill_mb": total(lambda t: t.get("Disk Bytes Spilled", 0)) / 2**20,
        "gc_s": total(lambda t: t.get("JVM GC Time", 0)) / 1000,
        "mb_written": total(lambda t: t.get("Output Metrics", {})
                            .get("Bytes Written", 0)) / 2**20,
        "task_skew": 1.0,
    }
    if stages:
        heavy = max(stages.values(),
                    key=lambda ts: sum(t.get("Executor Run Time", 0) for t in ts))
        runs = [t.get("Executor Run Time", 0) for t in heavy]
        out["task_skew"] = max(runs) / max(statistics.median(runs), 1)
    return out
