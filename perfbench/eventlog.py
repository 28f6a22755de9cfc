"""Fold a Spark event log into per-job-group totals.

Reads one uncompressed, non-rolling JSON-lines event log (the form
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false`` write). Each stage is attributed to the job group in the
properties of its ``SparkListenerStageSubmitted`` event; each task's
metrics and SQL accumulable updates are summed into that group.

    python3 perfbench/eventlog.py <event-log-file>

prints the per-group table as JSON.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"
# SQL metrics of the Arrow-batched Python UDF operators (pyspark 4.1)
PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"
PYTHON_ACCUMULABLES = (PYTHON_TIME, PYTHON_SENT, PYTHON_RECV)


def empty_totals() -> dict:
    return {
        "tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_records": 0,
        "spill_bytes": 0,
        **{name: 0 for name in PYTHON_ACCUMULABLES},
    }


def fold(lines) -> dict[str, dict]:
    """Per-job-group totals over an iterable of event-log lines. Stages
    submitted without a job group fold under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(empty_totals)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev["Stage ID"], "")]
            t["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                t["failed_tasks"] += 1
            m = ev.get("Task Metrics")
            if m:
                t["run_ms"] += m["Executor Run Time"]
                t["cpu_ns"] += m["Executor CPU Time"]
                t["gc_ms"] += m["JVM GC Time"]
                t["spill_bytes"] += m["Disk Bytes Spilled"]
                t["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t["shuffle_read_records"] += m["Shuffle Read Metrics"]["Total Records Read"]
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") in PYTHON_ACCUMULABLES and "Update" in acc:
                    t[acc["Name"]] += int(acc["Update"])
    return dict(totals)


def fold_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return fold(f)


if __name__ == "__main__":
    print(json.dumps(fold_file(sys.argv[1]), indent=1, sort_keys=True))
