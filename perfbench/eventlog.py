"""Per-job-group totals from an uncompressed Spark event log.

A traced run enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` and sets one job group per operation
and pass. Each ``SparkListenerJobStart`` carries the group in its
``Properties`` and lists its stage ids; each ``SparkListenerTaskEnd``
carries the task's metrics and its stage id. Stages are attributed to
the group of the job that listed them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    scheduler_delay_s: float = 0.0


def _scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """Spark UI's definition: task duration minus the parts an executor
    accounts for (deserialize, run, result serialization, result fetch)."""
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    accounted = (
        metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Executor Run Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    return max(0.0, float(duration - accounted))


def parse(lines) -> dict[str, GroupTotals]:
    """Totals per job group over an iterable of event-log lines.

    Jobs without a group are kept under the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            info = ev.get("Task Info") or {}
            metrics = ev.get("Task Metrics") or {}
            totals = groups[group]
            totals.tasks += 1
            totals.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            totals.gc_s += metrics.get("JVM GC Time", 0) / 1e3
            totals.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            totals.scheduler_delay_s += _scheduler_delay_ms(info, metrics) / 1e3
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupTotals]:
    with open(path) as f:
        return parse(f)
