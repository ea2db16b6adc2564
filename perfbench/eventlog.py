"""Spark event-log reader: per-job-group execution counts.

Reads the uncompressed JSON event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(single file or rolling ``eventlog_v2_*`` directory) and folds it into
one record per job group: jobs, stages, tasks, executor run/CPU/GC
time, scheduler delay, input, shuffle and spill bytes, the union of the
intervals in which the group's stages were active, and executor run
time keyed by each job's call site.

The call site is the value of a job-local property chosen by the
caller. PySpark sets ``callSite.short`` (``collect at file.py:12``) only
around the actions that return rows to Python, so a caller that wants
every job attributed, writes and counts included, sets its own
property around the code that submits them.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_INDEX = re.compile(r"events_(\d+)_")


def log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` in write order."""
    files = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]

    def order(p: str):
        m = _INDEX.search(os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue  # a torn last line of an unfinished log


class GroupStats:
    """Execution counts of all jobs tagged with one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages: set[tuple[str, int]] = set()
        self.tasks = 0
        self.executor_run_s = 0.0
        self.executor_cpu_s = 0.0
        self.gc_s = 0.0
        self.task_wait_s = 0.0
        self.input_bytes = 0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.intervals: list[tuple[float, float]] = []
        self.run_s_by_site: dict[str, float] = defaultdict(float)  # call site -> s

    def stage_active_s(self) -> float:
        """Length of the union of the stages' active intervals."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total


def group_stats(log_dir: str, site_property: str = "callSite.short") -> dict[str, GroupStats]:
    """Fold an event log into ``{job group id: GroupStats}``, with each
    job's call site read from the local property ``site_property``
    ("" when unset). Stage ids are scoped by application, so one log
    directory may hold several sessions' logs."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[str, int], str] = {}
    stage_site: dict[tuple[str, int], str] = {}
    app = ""
    for ev in read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            out[group].jobs += 1
            site = props.get(site_property) or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[(app, sid)] = group
                stage_site[(app, sid)] = site
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (app, info["Stage ID"])
            group = stage_group.get(key)
            if group is None or "Submission Time" not in info:
                continue  # skipped stages never ran
            g = out[group]
            g.stages.add(key)
            a = info["Submission Time"] / 1000.0
            b = info.get("Completion Time", info["Submission Time"]) / 1000.0
            g.intervals.append((a, b))
        elif kind == "SparkListenerTaskEnd":
            key = (app, ev["Stage ID"])
            group = stage_group.get(key)
            if group is None:
                continue
            g = out[group]
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            run_ms = m.get("Executor Run Time", 0)
            g.executor_run_s += run_ms / 1000.0
            g.run_s_by_site[stage_site.get(key, "")] += run_ms / 1000.0
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            # scheduler delay as the Spark UI defines it: task wall time
            # not spent deserializing, running, serializing the result
            # or fetching it
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            busy_ms = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
            )
            got = info.get("Getting Result Time", 0)
            fetch_ms = info.get("Finish Time", 0) - got if got else 0
            g.task_wait_s += max(0, wall_ms - busy_ms - fetch_ms) / 1000.0
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(out)
