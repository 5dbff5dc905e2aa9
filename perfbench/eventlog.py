"""Spark event-log reader: per job group, the jobs' time spans and the
task metrics of every stage those jobs ran.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true``. Only public listener events are used:
``SparkListenerJobStart``/``JobEnd`` (group, stages, span) and
``SparkListenerTaskEnd`` (task metrics)."""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class StageTasks:
    run_ms: float = 0.0
    max_run_ms: float = 0.0
    tasks: int = 0


@dataclass
class GroupStats:
    """Everything one job group ran, summed over its tasks."""
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stages: dict[int, StageTasks] = field(default_factory=dict)


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def find_log(log_dir: str) -> list[str]:
    """The files of the single finished application log in
    ``log_dir``: one file, or with rolling logs (the Spark 4 default)
    a directory of ``events_<n>_<app>`` parts, returned in order."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]


def parse(events) -> dict[str, GroupStats]:
    """Aggregate events by job group (jobs without a group are
    skipped). Times come back in epoch seconds."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                # a stage re-listed by a later job is skipped there; its
                # tasks belong to the job that first submitted it
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]].job_spans.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = out[group]
            run_ms = m.get("Executor Run Time", 0)
            g.run_s += run_ms / 1000.0
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            g.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
            st = g.stages.setdefault(ev["Stage ID"], StageTasks())
            st.run_ms += run_ms
            st.max_run_ms = max(st.max_run_ms, run_ms)
            st.tasks += 1
    return dict(out)
