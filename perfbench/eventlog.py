"""Per-job-group totals from a Spark event log.

Spark writes one JSON event per line, optionally compressed (zstd by
default in Spark 4) and optionally rolled into ``eventlog_v2_*``
directories of ``events_<n>_*`` files. pyarrow's compressed stream
decodes zstd and lz4, so no extra package is needed.

Jobs are attributed to the ``spark.jobGroup.id`` they were submitted
under; every task of a job's stages counts towards that group.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa

_CODECS = {".zstd": "zstd", ".zst": "zstd", ".lz4": "lz4"}
#: SQL metrics the Python operators (mapInPandas, mapInArrow, UDFs)
#: report per task, in ms and bytes.
_PYTHON_ACCUMS = {
    "time to start Python workers": "python_start_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
}
FIELDS = (
    "jobs",
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
    "spill_bytes",
    *_PYTHON_ACCUMS.values(),
)


def _log_files(log_dir: str) -> list[str]:
    def order(path: str) -> tuple:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    found = [
        os.path.join(parent, name)
        for parent, _dirs, names in os.walk(log_dir)
        for name in names
        if not name.startswith(".") and not name.startswith("appstatus")
    ]
    return sorted(found, key=order)


def read_events(log_dir: str) -> Iterator[dict]:
    for path in _log_files(log_dir):
        codec = _CODECS.get(os.path.splitext(path)[1])
        with pa.OSFile(path) as raw:
            stream = pa.CompressedInputStream(raw, codec) if codec else raw
            data = stream.read()
        for line in data.decode().splitlines():
            if line.strip():
                yield json.loads(line)


def group_totals(
    events: Iterable[dict], group_of: Callable[[str], str | None]
) -> dict[str, dict[str, float]]:
    """Sum task metrics per key; ``group_of`` maps a job group id to a
    key, or to None to leave the job out."""
    stage_key: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = group_of(group) if group else None
            if key is None:
                continue
            totals[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_key[sid] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            t = totals[key]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["task_run_ms"] += m.get("Executor Run Time", 0)
            t["task_cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t["shuffle_fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                field = _PYTHON_ACCUMS.get(acc.get("Name"))
                if field is not None:
                    t[field] += int(acc.get("Update") or 0)
    return dict(totals)
