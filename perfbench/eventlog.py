"""Reader for Spark's JSON event log, aggregated per job group.

The benchmark wraps each traced layer call in ``setJobGroup``; Spark
copies the group id into every stage's properties, so each task's
metrics can be attributed to the layer call that caused it. The log must
be written uncompressed and unrolled (one JSON event per line).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    intervals: List[Tuple[int, int]] = field(default_factory=list)  # task launch/finish, epoch ms
    stage_run_ms: Dict[int, List[int]] = field(default_factory=dict)

    def busy_ms(self, start_ms: float, end_ms: float) -> float:
        """Wall time in [start, end] during which at least one task ran."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.intervals):
            s, e = max(s, start_ms), min(e, end_ms)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def task_skew_max(self) -> float:
        """Largest max/median task run time over stages with >= 2 tasks."""
        skew = 1.0
        for times in self.stage_run_ms.values():
            if len(times) >= 2:
                med = statistics.median(times)
                skew = max(skew, max(times) / max(med, 1.0))
        return skew

    def metrics(self, start_ms: float, end_ms: float, cores: int) -> Dict[str, float]:
        wall_s = (end_ms - start_ms) / 1000.0
        busy_s = self.busy_ms(start_ms, end_ms) / 1000.0
        return {
            "jobs": self.jobs,
            "stages": self.stages,
            "tasks": self.tasks,
            "executor_run_s": self.run_ms / 1000.0,
            "executor_cpu_s": self.cpu_ns / 1e9,
            "gc_s": self.gc_ms / 1000.0,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "spill_bytes": self.spill_bytes,
            "core_busy_frac": self.run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0,
            "driver_gap_s": wall_s - busy_s,
            "task_skew_max": self.task_skew_max(),
        }


def find_log(event_log_dir: str) -> str:
    """The single finished application log in the directory."""
    logs = [
        p for p in glob.glob(os.path.join(event_log_dir, "*"))
        if not p.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_log_dir}, found {logs}")
    return logs[0]


def aggregate(path: str) -> Dict[Optional[str], GroupStats]:
    groups: Dict[Optional[str], GroupStats] = {}
    stage_group: Dict[int, Optional[str]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                groups.setdefault(group, GroupStats()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                stage_group[sid] = group
                groups.setdefault(group, GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups.setdefault(stage_group.get(sid), GroupStats())
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0)
                g.tasks += 1
                g.run_ms += run
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                sr = m.get("Shuffle Read Metrics", {})
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                g.intervals.append((info["Launch Time"], info["Finish Time"]))
                g.stage_run_ms.setdefault(sid, []).append(run)
    return groups
