"""Per-op task metrics from a Spark event log.

The benchmark runs every op under its own job group
(``<op index>:<layer>:<phase>``).  This parser maps each job to its group
through ``SparkListenerJobStart``, each stage to the first job that lists
it (a stage reused by a later job ran its tasks for the first), and sums
``SparkListenerTaskEnd`` metrics per group.  It also records each group's
stage spans, so the caller can subtract their union from the op's wall
time to get the driver-side gap.  Needs an uncompressed log
(``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_spans: list[tuple[int, int]] = field(default_factory=list)  # epoch ms


def parse(path: str) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g].jobs += 1
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                st = groups[g]
                st.tasks += 1
                if (ev.get("Task Info") or {}).get("Failed"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                g = stage_group.get(info.get("Stage ID"))
                start, end = info.get("Submission Time"), info.get("Completion Time")
                if g is not None and start is not None and end is not None:
                    groups[g].stage_spans.append((start, end))
    return dict(groups)


def union_seconds(spans: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1e3
