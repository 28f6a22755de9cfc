"""Self-test of the event-log folder on a recorded event log.

    python3 -m pytest perfbench/test_eventlog.py -q

The fixture holds lines recorded from a pyspark 4.1.2 event log (call
sites trimmed to file names): the submit event and task ends of one
Arrow-batched Python UDF stage and of one shuffle-map stage, both under
job group ``perfbench.test``. If the event-log field names or the
Python-worker accumulable names change, the fold stops finding them and
this test fails; the traced benchmark run separately fails when the
live event log shows no Python-worker time for a scoring layer.
"""

from __future__ import annotations

import json
import os

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_python_udf.jsonl")


def test_fixture_is_a_pyspark_4_1_event_log():
    with open(FIXTURE) as f:
        first = json.loads(f.readline())
    assert first["Event"] == "SparkListenerLogStart"
    assert first["Spark Version"].startswith("4.1.")


def test_fold_groups_task_metrics_and_python_accumulables():
    totals = eventlog.fold_file(FIXTURE)
    assert list(totals) == ["perfbench.test"]
    assert totals["perfbench.test"] == {
        "tasks": 5,
        "failed_tasks": 0,
        "run_ms": 9750,
        "cpu_ns": 1855525766,
        "gc_ms": 596,
        "shuffle_write_bytes": 53815,
        "shuffle_read_records": 38500,
        "spill_bytes": 0,
        eventlog.PYTHON_TIME: 7335,
        eventlog.PYTHON_SENT: 7136432,
        eventlog.PYTHON_RECV: 38768,
    }


def test_stage_without_job_group_folds_under_empty_name():
    with open(FIXTURE) as f:
        lines = [json.loads(line) for line in f]
    for ev in lines:
        ev.pop("Properties", None)
    totals = eventlog.fold(json.dumps(ev) for ev in lines)
    assert list(totals) == [""]
    assert totals[""]["tasks"] == 5
