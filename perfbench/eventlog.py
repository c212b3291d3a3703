"""Roll a Spark event log up per job group (standard library only).

The traced run puts each layer call under its own job group
(``SparkContext.setJobGroup``), so every job, and through the job every
stage and task, belongs to exactly one layer. This module reads the
JSON-lines event log Spark writes with ``spark.eventLog.enabled`` and
sums the task metrics per group.

A stage is owned by the first job that lists it; a later job that reuses
its shuffle output lists it as skipped and runs no tasks for it.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# Python UDF time as the Arrow/pandas eval nodes report it (SQL metric,
# milliseconds).
PYTHON_ACCUM = "time to run Python workers"
MB = 1024 * 1024


@dataclass
class GroupStats:
    job_ids: set = field(default_factory=set)
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    python_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def jobs(self) -> int:
        return len(self.job_ids)

    @property
    def task_s(self) -> float:
        return self.task_ms / 1000

    @property
    def python_s(self) -> float:
        return self.python_ms / 1000

    @property
    def shuffle_mb(self) -> float:
        return (self.shuffle_read_bytes + self.shuffle_write_bytes) / MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / MB

    @property
    def input_mb(self) -> float:
        return self.input_bytes / MB

    @property
    def skew(self) -> float:
        """max / median task run time in the group's largest stage (by
        total task time), the median floored at 1 ms; 1.0 when the group
        ran no tasks."""
        if not self.stage_task_ms:
            return 1.0
        times = max(self.stage_task_ms.values(), key=sum)
        return max(times) / max(statistics.median(times), 1)

    def idle_core_frac(self, wall_s: float, cores: int) -> float:
        """1 − task_s / (wall_s · cores): the share of the layer's core
        time spent in job floors, skew and driver-side work."""
        if wall_s <= 0:
            return 0.0
        return 1.0 - self.task_s / (wall_s * cores)


def _python_ms(task_info: dict) -> int:
    total = 0
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == PYTHON_ACCUM:
            total += int(acc.get("Update", 0) or 0)
    return total


def rollup(path: str) -> dict[str | None, GroupStats]:
    """{job group id (None = no group): GroupStats} for one event log."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = group
                groups[group].job_ids.add(jid)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[job_group.get(stage_job.get(sid))]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                g.tasks += 1
                g.task_ms += run_ms
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.python_ms += _python_ms(ev.get("Task Info") or {})
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                im = m.get("Input Metrics") or {}
                g.input_bytes += im.get("Bytes Read", 0)
                g.input_records += im.get("Records Read", 0)
                g.stage_task_ms[sid].append(run_ms)
    return dict(groups)
