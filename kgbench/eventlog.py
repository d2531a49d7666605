"""Spark event-log reader: task metrics summed per job group.

Reads an uncompressed event log (a single file, or the ``eventlog_v2_*``
directory of a rolling log) and attributes every finished task to the
job group of the job that submitted its stage (``setJobGroup`` sets the
``spark.jobGroup.id`` property the job-start event carries).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, Iterator, List

# SQL metric that counts the bytes a Python stage reads over the Arrow boundary
PYTHON_IN = "data sent to Python workers"


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_in_bytes: int = 0
    stages: set = field(default_factory=set)


def _files(path: str) -> List[str]:
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    # rolling logs are events_<index>_<app>; read them in index order
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def events(path: str) -> Iterator[dict]:
    for fn in _files(path):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The one application log under ``spark.eventLog.dir``."""
    (entry,) = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    return os.path.join(log_dir, entry)


def totals_by_group(path: str) -> Dict[str, GroupTotals]:
    """{job group: totals}; jobs without a group are keyed ''."""
    out: Dict[str, GroupTotals] = {}
    stage_group: Dict[int, str] = {}
    for e in events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(g, GroupTotals()).jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            t = out[stage_group[e["Stage ID"]]]
            t.tasks += 1
            t.stages.add(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            t.task_ms += m.get("Executor Run Time", 0)
            t.cpu_ns += m.get("Executor CPU Time", 0)
            t.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_IN:
                    t.python_in_bytes += int(acc.get("Update") or 0)
    return out
