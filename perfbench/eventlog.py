"""Reduce a Spark JSON event log to per-tag job, stage and task figures.

Jobs are tagged through ``SparkContext.setJobDescription``; every stage
a job submits, and every task of that stage, counts toward the job's
tag. Only the standard library is used, so the log must be written
uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass

UNTAGGED = "(untagged)"


@dataclass
class TagStats:
    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    task_s_sum: float = 0.0
    task_s_max: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TagStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.single_task_stages += other.single_task_stages
        self.tasks += other.tasks
        self.task_s_sum += other.task_s_sum
        self.task_s_max = max(self.task_s_max, other.task_s_max)
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes


def event_files(path: str) -> list[str]:
    """A log is one file, or (rolling logs) a directory of
    ``events_<n>_<app>`` files read in index order."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def reduce_log(path: str) -> dict[str, TagStats]:
    """Per job-description tag: jobs, stages that ran tasks, one-task
    stages, tasks, task wall seconds (sum and max), shuffle bytes
    written and bytes spilled to disk."""
    stage_tag: dict[int, str] = {}
    stats: dict[str, TagStats] = defaultdict(TagStats)
    stage_tasks: dict[tuple[str, int], int] = defaultdict(int)
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = props.get("spark.job.description") or UNTAGGED
                    stats[tag].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev["Stage ID"], UNTAGGED)
                    info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                    s = stats[tag]
                    secs = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    s.tasks += 1
                    s.task_s_sum += secs
                    s.task_s_max = max(s.task_s_max, secs)
                    s.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    s.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
                    stage_tasks[(tag, ev["Stage ID"])] += 1
    for (tag, _sid), n in stage_tasks.items():
        stats[tag].stages += 1
        stats[tag].single_task_stages += n == 1
    return dict(stats)


def combine(stats: dict[str, TagStats], tags) -> TagStats:
    """Sum the figures of ``tags`` (missing tags count as zero)."""
    out = TagStats()
    for t in tags:
        if t in stats:
            out.add(stats[t])
    return out
