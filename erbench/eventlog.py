"""Spark event-log reader: per-job-group task counters.

Reads a Spark event log written with ``spark.eventLog.enabled`` —
either a single JSON-lines file or a Spark 4 rolling directory
(``eventlog_v2_<app>/events_<N>_<app>``, read in N order) — and sums,
for every job group and for every job description, the jobs, the
stages that ran (skipped stages are not counted), the task ends, the
executor CPU time, the shuffle bytes read plus written and the bytes
spilled to disk.

Usage::

    python3 erbench/eventlog.py EVENT_LOG_DIR
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_mb", "spill_mb")
_ROLLING = re.compile(r"^events_(\d+)_")


def log_files(path: str) -> list[str]:
    """Event files under ``path`` in write order. ``path`` may be one
    log file, one rolling ``eventlog_v2_*`` directory, or a directory
    holding either kind (one per application)."""
    if os.path.isfile(path):
        return [path]
    files = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith("eventlog_v2_"):
            files.extend(log_files(full))
        elif _ROLLING.match(name):
            files.append(full)
        elif os.path.isfile(full) and not name.startswith(("appstatus_", ".")):
            files.append(full)
    rolling = [f for f in files if _ROLLING.match(os.path.basename(f))]
    if rolling:
        rolling.sort(key=lambda f: int(_ROLLING.match(os.path.basename(f)).group(1)))
        return rolling + [f for f in files if f not in rolling]
    return files


def events(path: str):
    for f in log_files(path):
        if f.endswith(".inprogress") and not os.path.getsize(f):
            continue
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def summarize(path: str) -> dict:
    """{"groups": {group: counters}, "descriptions": {desc: counters}}.

    Jobs without a job group are counted under the empty string."""
    stage_owner: dict[int, tuple[str, str]] = {}
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    descs: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))

    def bump(owner, key, value):
        groups[owner[0]][key] += value
        descs[owner[1]][key] += value

    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            owner = (props.get("spark.jobGroup.id") or "", props.get("spark.job.description") or "")
            bump(owner, "jobs", 1)
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, owner)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            bump(stage_owner.get(sid, ("", "")), "stages", 1)
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev["Stage ID"], ("", ""))
            m = ev.get("Task Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            shuffle = r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0) + w.get("Shuffle Bytes Written", 0)
            bump(owner, "tasks", 1)
            bump(owner, "task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
            bump(owner, "shuffle_mb", shuffle / 1e6)
            bump(owner, "spill_mb", m.get("Disk Bytes Spilled", 0) / 1e6)
    return {"groups": dict(groups), "descriptions": dict(descs)}


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: eventlog.py EVENT_LOG_PATH")
    print(json.dumps(summarize(sys.argv[1]), indent=1, sort_keys=True))
