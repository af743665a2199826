"""Event-log parsing on a tiny log checked in under ``data/``.

The log is a real Spark 4.1 zstd event log of two job groups, trimmed
to the events the parser reads: ``tiny:python`` ran one mapInPandas job
over 100 rows and ``tiny:shuffle`` one grouped count over 1,000 rows.
``make_tiny_eventlog.py`` regenerates it (the timings then change).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_group_totals_of_checked_in_log():
    totals = eventlog.group_totals(eventlog.read_events(DATA), lambda g: g)
    assert sorted(totals) == ["tiny:python", "tiny:shuffle"]
    assert totals["tiny:python"] == {
        "jobs": 1, "tasks": 1, "task_run_ms": 2594, "task_cpu_ns": 630421597,
        "gc_ms": 28, "shuffle_write_bytes": 0, "shuffle_fetch_wait_ms": 0,
        "spill_bytes": 0, "python_start_ms": 1297, "python_run_ms": 2147,
        "python_sent_bytes": 1008,
    }
    assert totals["tiny:shuffle"] == {
        "jobs": 1, "tasks": 6, "task_run_ms": 1176, "task_cpu_ns": 584714651,
        "gc_ms": 68, "shuffle_write_bytes": 6712, "shuffle_fetch_wait_ms": 0,
        "spill_bytes": 0, "python_start_ms": 0, "python_run_ms": 0,
        "python_sent_bytes": 0,
    }


def test_group_mapping_merges_and_drops_groups():
    events = list(eventlog.read_events(DATA))
    merged = eventlog.group_totals(events, lambda g: "all" if g.startswith("tiny:") else None)
    split = eventlog.group_totals(events, lambda g: g)
    assert merged["all"]["tasks"] == sum(t["tasks"] for t in split.values())
    assert eventlog.group_totals(events, lambda g: None) == {}


def _job(job_id: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage: int, run_ms: int, fetch_wait_ms: int = 0, spilled: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "time to start Python workers", "Update": "7"},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1,
            "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_wait_ms},
        },
    }


def test_rolled_plain_files_are_read_in_order(tmp_path):
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    first = [_job(0, [0], "g"), _task(0, 10), _job(1, [1], None), _task(1, 99)]
    second = [_task(0, 20, fetch_wait_ms=3, spilled=5)]
    (log / "events_2_app").write_text("\n".join(json.dumps(e) for e in second))
    (log / "events_1_app").write_text("\n".join(json.dumps(e) for e in first))
    (log / "appstatus_app").write_text("")
    totals = eventlog.group_totals(eventlog.read_events(str(tmp_path)), lambda g: g)
    assert totals == {"g": {
        "jobs": 1, "tasks": 2, "task_run_ms": 30, "task_cpu_ns": 15_000_000,
        "gc_ms": 2, "shuffle_write_bytes": 0, "shuffle_fetch_wait_ms": 3,
        "spill_bytes": 5, "python_start_ms": 14, "python_run_ms": 0,
        "python_sent_bytes": 0,
    }}
