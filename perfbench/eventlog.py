"""Reader for an uncompressed, non-rolling Spark event log.

Jobs and stage attempts are attributed to the job group that was set when
they were submitted; tasks inherit their stage attempt's group.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class GroupCounters:
    """Spark work launched under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (submission_ms, completion_ms) of each job
    job_intervals: list[tuple[int, int]] = field(default_factory=list)
    # task durations (ms) per stage attempt
    stage_task_ms: dict[tuple[int, int], list[int]] = field(
        default_factory=lambda: defaultdict(list))


def parse(lines) -> dict[str | None, GroupCounters]:
    """Fold event-log lines into counters keyed by job group."""
    groups: dict[str | None, GroupCounters] = defaultdict(GroupCounters)
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get(JOB_GROUP)
            job_submit[jid] = ev.get("Submission Time", 0)
            groups[job_group[jid]].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_intervals.append(
                    (job_submit[jid], ev.get("Completion Time", job_submit[jid])))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = (ev.get("Properties") or {}).get(JOB_GROUP)
            groups[stage_group[key]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            g = groups[stage_group.get(key)]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g.failed_tasks += 1
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            read = m.get("Input Metrics") or {}
            g.input_bytes += read.get("Bytes Read", 0)
            g.input_records += read.get("Records Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.stage_task_ms[key].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return dict(groups)


def read(directory: Path) -> dict[str | None, GroupCounters]:
    """Parse the single application log Spark wrote into ``directory``."""
    logs = [p for p in directory.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(logs)}")
    with logs[0].open() as f:
        return parse(f)


def task_skew(stage_task_ms: dict[tuple[int, int], list[int]]) -> float:
    """Largest max-over-median task time among stages with two or more
    tasks (medians below 1 ms count as 1 ms); 1.0 when no stage has two."""
    skew = 1.0
    for durations in stage_task_ms.values():
        if len(durations) < 2:
            continue
        ordered = sorted(durations)
        mid = len(ordered) // 2
        median = ordered[mid] if len(ordered) % 2 else (ordered[mid - 1] + ordered[mid]) / 2
        skew = max(skew, ordered[-1] / max(median, 1))
    return skew
