"""Regenerate ``data/events_1_tiny.zstd`` for test_eventlog.py.

    python perfbench/tests/make_tiny_eventlog.py

Runs two tiny job groups on a local Spark session with the event log
on, keeps only the job-start and task-end events (with just the fields
the parser reads) and writes them zstd-compressed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))


def _trim(ev: dict) -> dict | None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind == "SparkListenerTaskEnd":
        info = ev.get("Task Info") or {}
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Task Info": {"Accumulables": [
                {"Name": a.get("Name"), "Update": a.get("Update")}
                for a in info.get("Accumulables", ())
                if "Python" in str(a.get("Name"))
            ]},
            "Task Metrics": ev.get("Task Metrics") or {},
        }
    return None


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from pyspark.sql import SparkSession

    from perfbench import eventlog

    log_dir = tempfile.mkdtemp(prefix="tiny-eventlog-")
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("tiny:python", "mapInPandas")
        spark.range(100).coalesce(1).mapInPandas(
            lambda it: (df * 2 for df in it), "id long"
        ).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("tiny:shuffle", "grouped count")
        spark.range(1000).repartition(2).selectExpr("id % 7 AS k").groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()
        spark.stop()
        events = [t for t in map(_trim, eventlog.read_events(log_dir)) if t]
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    data = "\n".join(json.dumps(e, sort_keys=True) for e in events).encode() + b"\n"
    out = os.path.join(HERE, "data", "events_1_tiny.zstd")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with pa.CompressedOutputStream(out, "zstd") as fh:
        fh.write(data)
    print(f"wrote {len(events)} events to {out}")


if __name__ == "__main__":
    main()
