"""Sum task metrics from Spark's uncompressed event log by job group.

``TaskEnd`` events carry no job properties, so each task is attributed
through its stage: a ``JobStart`` event lists the job's stage ids and
carries ``spark.jobGroup.id`` in its properties.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterable, Iterator

GROUP_KEY = "spark.jobGroup.id"


def read_events(log_dir: str) -> Iterator[dict]:
    """Events of every application log under ``log_dir``: rolling
    (``eventlog_v2_*/events_<n>_*``) and single-file logs alike."""

    def roll_index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            files = sorted(glob.glob(os.path.join(entry, "events_*")), key=roll_index)
        elif not os.path.basename(entry).startswith("."):
            files = [entry]
        else:
            continue
        for path in files:
            with open(path) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _zero() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "jvm_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }


def totals_by_group(events: Iterable[dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU, GC time, shuffle bytes
    written and spill (memory + disk) bytes."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            if group is None:
                continue
            out.setdefault(group, _zero())["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if group is None or m is None:
                continue
            t = out.setdefault(group, _zero())
            t["tasks"] += 1
            t["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            t["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
    return out
