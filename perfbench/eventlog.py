"""Fold an uncompressed Spark event log into per-job-group layer records.

The benchmark tags every query of every pass with ``setJobGroup``; Spark
writes the group into each ``SparkListenerJobStart``'s properties. Stages are
mapped to the group of the first job that lists them, and every
``SparkListenerTaskEnd`` is charged to its stage's group. A stage is a
*Python stage* when one of its RDD scopes names a Python plan node
(ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...): its task time is
Python-worker time, reported under ``functions``; every other stage's task
time is JVM operator time, reported under ``operators``.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_PYTHON_SCOPE = re.compile(r"Python|Pandas|InArrow")
MB = 1024 * 1024


@dataclass
class GroupRecord:
    """Task totals of one job group (one query in one pass)."""

    jvm_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    python_run_s: float = 0.0
    input_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    failed_tasks: int = 0
    stage_tasks: dict[int, int] = field(default_factory=dict)

    @property
    def single_task_stages(self) -> int:
        return sum(1 for n in self.stage_tasks.values() if n == 1)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope and _PYTHON_SCOPE.search(json.loads(scope).get("name", "")):
            return True
    return False


def fold(path: str) -> dict[str, GroupRecord]:
    """Read the event log at ``path``; return one record per job group."""
    stage_group: dict[int, str] = {}
    python_stage: dict[int, bool] = {}
    records: dict[str, GroupRecord] = defaultdict(GroupRecord)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                for info in ev.get("Stage Infos", ()):
                    sid = info["Stage ID"]
                    stage_group.setdefault(sid, group)
                    python_stage.setdefault(sid, _is_python_stage(info))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid)
                if group is None:
                    continue
                rec = records[group]
                rec.stage_tasks[sid] = rec.stage_tasks.get(sid, 0) + 1
                if ev["Task Info"].get("Failed"):
                    rec.failed_tasks += 1
                m = ev.get("Task Metrics")
                if not m:
                    continue
                run_s = m["Executor Run Time"] / 1e3
                if python_stage[sid]:
                    rec.python_run_s += run_s
                else:
                    rec.jvm_run_s += run_s
                    rec.jvm_cpu_s += m["Executor CPU Time"] / 1e9
                    rec.jvm_gc_s += m["JVM GC Time"] / 1e3
                rec.input_mb += m["Input Metrics"]["Bytes Read"] / MB
                rd = m["Shuffle Read Metrics"]
                rec.shuffle_read_mb += (
                    rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                ) / MB
                rec.shuffle_write_mb += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                )
                rec.spill_mb += m["Disk Bytes Spilled"] / MB
                rec.peak_exec_mem_mb = max(
                    rec.peak_exec_mem_mb, m["Peak Execution Memory"] / MB
                )
    return dict(records)
