"""Per-span Spark metrics from an uncompressed, non-rolling event log.

The benchmark tags every call it makes into a layer with
``SparkContext.setJobGroup("<span>#<n>", ...)``. Spark copies the job
group into the properties of each ``SparkListenerJobStart``, so every
stage and task in the log can be traced back to the call that caused
it. ``span_stats`` folds the log into one record per job group.

Only the Spark 4.x JSON event names are read; stdlib only.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "task_ms": [],
        "gc_ms": 0,
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
    }


def span_stats(path: str) -> dict[str, dict]:
    """Job-group id -> {jobs, stages, task_skew, gc_s, shuffle_bytes,
    shuffle_records, spill_bytes}.

    ``task_skew`` is the slowest task over the median task of the group.
    Shuffle figures are what the group's tasks wrote; spill is memory
    plus disk bytes spilled. Jobs run without a job group are dropped.
    """
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                groups[gid]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                info = ev["Task Info"]
                g["stages"].add(ev["Stage ID"])
                g["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                m = ev.get("Task Metrics") or {}
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    out = {}
    for gid, g in groups.items():
        tm = g["task_ms"]
        med = statistics.median(tm) if tm else 0
        out[gid] = {
            "jobs": g["jobs"],
            "stages": len(g["stages"]),
            "task_skew": (max(tm) / med) if med > 0 else (1.0 if tm else 0.0),
            "gc_s": g["gc_ms"] / 1e3,
            "shuffle_bytes": g["shuffle_bytes"],
            "shuffle_records": g["shuffle_records"],
            "spill_bytes": g["spill_bytes"],
        }
    return out
