"""Attribute Spark's own task metrics to adopt_spark layers.

The benchmark tags every layer call with ``setJobGroup("<module>")``
and, in a traced run, starts the SparkContext with
``spark.eventLog.enabled=true`` / ``spark.eventLog.compress=false``.
Spark 4 writes the log as a directory ``eventlog_v2_<app>/events_*``
of JSON lines. This module maps every stage to the job group of the
job that submitted it and sums, per group, the ``SparkListenerTaskEnd``
metrics plus the Python-worker accumulables that Arrow/pandas UDF
stages report.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# Python-worker accumulables (SQL metrics of ArrowEvalPython /
# MapInPandas / FlatMapGroupsInPandas nodes), summed per group.
_PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


@dataclass
class GroupStats:
    """Task-metric totals of one job group."""

    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    py_run_ms: int = 0
    py_start_ms: int = 0
    py_sent: int = 0
    py_returned: int = 0
    # (stage id, attempt) -> task run times, for skew
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def py_bytes(self) -> int:
        return self.py_sent + self.py_returned

    def task_skew(self) -> float:
        """max / median task run time in the group's heaviest stage."""
        if not self.stage_tasks:
            return 0.0
        heavy = max(self.stage_tasks.values(), key=sum)
        return max(heavy) / max(statistics.median(heavy), 1.0)


def find_event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``."""
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


def parse(paths: list[str]) -> dict[str, GroupStats]:
    """Per-job-group totals over the given event files.

    Stages are attributed through the properties of the event that
    submitted them (``SparkListenerStageSubmitted``, falling back to
    the owning ``SparkListenerJobStart``); tasks of stages without a
    group land under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    if "spark.jobGroup.id" in props:
                        stage_group[ev["Stage Info"]["Stage ID"]] = \
                            props["spark.jobGroup.id"]
                elif kind == "SparkListenerTaskEnd":
                    _add_task(out[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(out)


def _add_task(g: GroupStats, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    run = int(tm.get("Executor Run Time", 0))
    g.tasks += 1
    g.run_ms += run
    g.gc_ms += int(tm.get("JVM GC Time", 0))
    g.spill_bytes += int(tm.get("Memory Bytes Spilled", 0)) + \
        int(tm.get("Disk Bytes Spilled", 0))
    g.shuffle_write_bytes += int(
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    g.output_bytes += int((tm.get("Output Metrics") or {}).get("Bytes Written", 0))
    g.stage_tasks[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(run)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        attr = _PY_ACCUMS.get(acc.get("Name"))
        if attr is not None:
            setattr(g, attr, getattr(g, attr) + int(acc.get("Update", 0)))
