"""The reference's filesystem listing (src/fs.rs:99 WalkDir walk ->
FileInfo projection, src/fs.rs:50-76) as two plain functions, plus
the Spark 4 Python DataSource pair (`pyspark.sql.datasource` API)
that exposes the listing as pluggable sources:
`spark.read.format("pylisting")` and
`spark.readStream.format("pylisting_stream")`.

Design for scale (the part that matters at a 100 TB tree):

- :func:`plan_shards` runs on the DRIVER but does NOT walk the tree:
  it lists the root's immediate children and shards them into input
  partitions (the prefix-sharding strategy of S3 listers —
  ListObjectsV2 with delimiter '/' then fan out per prefix,
  src/s3.rs:87-100 is the single-worker version of this). Only when
  the root has fewer children than the target shard count does it
  descend, one directory at a time, until there are enough entries.
- :func:`walk_shard` runs on EXECUTORS and does the recursive walk +
  stat for its shard — the expensive, embarrassingly-parallel part.
  Equivalent to the reference's intra-batch concurrent stat
  (src/fs.rs:85-89), but across machines. The walk's one `lstat` per
  entry yields every column, `created` included.

``sources.fs.list_files`` (the listing behind ``scrape_fs``) runs the
two functions through an RDD, with no Python planner process;
``ListingReader`` is the ``pylisting`` adapter over the same two
functions (its ``partitions()`` / ``read()``), so there is one listing
implementation.

The row schema is the reference's FileInfo (src/db.rs:10-18) minus
mime (a JVM-side literal-map lookup, sources/mime.with_mime_type).
Timestamps are built from the integer ``st_*_ns`` fields, truncated to
microseconds (Spark's TimestampType and the reference's precision).
"""

from __future__ import annotations

import fnmatch
import os
import stat as stat_mod
from collections import deque
from datetime import datetime, timedelta, timezone
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA = (
    "path string, filename string, size long, modified timestamp, "
    "created timestamp"
)

#: Values of the ``created`` option: birthtime, else ctime (default);
#: birthtime or fail; always NULL.
CREATED_MODES = ("stat", "strict", "none")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


class BirthtimeUnavailableError(OSError):
    """Strict-mode parity with the reference's ``metadata.created()?``
    (src/fs.rs:65): raised when the platform/filesystem exposes no
    file-creation time. The default (relaxed) mode falls back to
    st_ctime instead — erroring a 1000-executor job over a missing
    btime is wrong at scale, but the flag lets users who rely on the
    reference's fail-fast contract keep it."""


def _ts(ns: int) -> datetime:
    """Epoch-ns -> UTC datetime, floored to microseconds in integer
    arithmetic (a float st_mtime loses sub-microsecond digits and can
    round the microsecond itself)."""
    return _EPOCH + timedelta(microseconds=ns // 1_000)


def created_time(st: os.stat_result, mode: str, path: str) -> datetime | None:
    """`created` from one stat result: st_birthtime where the platform
    has it (macOS/Windows/BSD), else st_ctime (Linux: inode-change
    time, the closest field; it moves when a file is replaced, which
    is what the A8 change predicate needs). ``mode="strict"`` raises
    instead of falling back (the reference's src/fs.rs:65);
    ``mode="none"`` leaves it NULL."""
    if mode == "none":
        return None
    bt = getattr(st, "st_birthtime_ns", None)
    if bt is not None:
        return _ts(bt)
    bt = getattr(st, "st_birthtime", None)  # Python < 3.12: float only
    if bt is not None:
        return _EPOCH + timedelta(microseconds=int(bt * 1_000_000))
    if mode == "strict":
        raise BirthtimeUnavailableError(
            f"no file-creation time available for {path!r} "
            "(platform exposes no st_birthtime); use "
            "strict_created=False for the st_ctime fallback"
        )
    return _ts(st.st_ctime_ns)


def file_row(dirpath: str, name: str, st: os.stat_result, created: str) -> tuple:
    """One SCHEMA row from the walk's lstat of ``dirpath/name``."""
    # u64->i64 overflow -> NULL, like the reference's
    # size.try_into().ok() (src/db.rs:85)
    size = st.st_size if st.st_size <= 2**63 - 1 else None
    return (
        dirpath,
        name,
        size,
        _ts(st.st_mtime_ns),
        created_time(st, created, os.path.join(dirpath, name)),
    )


def check_created_mode(mode: str) -> str:
    if mode not in CREATED_MODES:
        raise ValueError(f"created must be one of {CREATED_MODES}, got {mode!r}")
    return mode


def _scan_children(d: str) -> tuple[list[str], list[str]]:
    """(non-directories, directories) directly under ``d``; a symlink
    to a directory is a non-directory (never followed)."""
    files, dirs = [], []
    with os.scandir(d) as it:
        for e in it:
            (dirs if e.is_dir(follow_symlinks=False) else files).append(e.path)
    return files, dirs


def plan_shards(root: str, nparts: int) -> list[list[str]]:
    """Driver-side: shard the root's immediate children round-robin
    into at most ``nparts`` entry lists (never empty: a tree with no
    entries is one empty shard).

    Subtree sizes are unknown and walking a 100 TB tree on the driver
    is the anti-pattern, so descend (breadth-first, one directory at a
    time) only while there are fewer entries than shards — a root
    holding one directory would otherwise walk in one task."""
    if not os.path.isdir(root):
        os.stat(root)  # a missing root fails the scrape
        return [[root]]  # WalkDir of a file: the file
    files, dirs = _scan_children(root)
    pending, unreadable = deque(dirs), []
    while pending and len(files) + len(unreadable) + len(pending) < nparts:
        d = pending.popleft()
        try:
            sub_files, sub_dirs = _scan_children(d)
        except OSError:
            unreadable.append(d)  # the executor walk skips it
            continue
        files += sub_files
        pending.extend(sub_dirs)
    entries = sorted(files + unreadable + list(pending))
    if not entries:
        return [[]]
    n = min(nparts, len(entries))
    return [entries[i::n] for i in range(n)]


def walk_shard(
    entries: Sequence[str], created: str = "stat", pattern: str = "*"
) -> Iterator[tuple]:
    """Executor-side: recursive walk + stat of one shard, yielding
    SCHEMA rows for the regular files whose name matches ``pattern``.

    Per-entry anomalies are TOLERATED, not fatal (parity with the
    reference walk's filter_map_ok, src/fs.rs:88): a file deleted
    mid-walk or an unreadable directory is skipped, never a job
    failure. lstat (never following links) makes symlinks non-dir
    non-reg entries, so symlink cycles cannot loop the walk and
    symlinked subtrees are not double-counted — matching WalkDir's
    default no-follow + the reference's is_file() filter
    (src/fs.rs:55)."""
    stack = list(entries)
    while stack:
        p = stack.pop()
        try:
            st = os.lstat(p)
        except OSError:
            continue  # vanished or unreadable between list and stat
        if stat_mod.S_ISDIR(st.st_mode):
            try:
                stack.extend(os.path.join(p, e) for e in os.listdir(p))
            except OSError:
                pass  # unreadable dir: skip its subtree
            continue
        if not stat_mod.S_ISREG(st.st_mode):
            continue  # symlink / fifo / socket: not a file record
        dirpath, name = os.path.split(p)
        if fnmatch.fnmatch(name, pattern):
            yield file_row(dirpath, name, st, created)


class ListingDataSource(DataSource):
    """`format("pylisting")` — options: path (root dir, required),
    pattern (fnmatch glob on filenames, default '*'),
    numPartitions (target shard count, default 8),
    created (one of CREATED_MODES, default 'stat')."""

    @classmethod
    def name(cls) -> str:
        return "pylisting"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "ListingReader":  # noqa: ANN001
        return ListingReader(self.options)


class _Shard(InputPartition):
    def __init__(self, entries: list[str]):
        self.entries = entries


class ListingReader(DataSourceReader):
    """DataSource adapter over :func:`plan_shards` (driver) and
    :func:`walk_shard` (executors)."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.pattern = options.get("pattern", "*")
        self.nparts = int(options.get("numpartitions", "8"))
        self.created = check_created_mode(options.get("created", "stat"))

    def partitions(self) -> Sequence[InputPartition]:
        return [_Shard(s) for s in plan_shards(self.root, self.nparts)]

    def read(self, partition: _Shard) -> Iterator[tuple]:
        return walk_shard(partition.entries, self.created, self.pattern)


def register(spark) -> None:  # noqa: ANN001
    """Idempotently register the source with a SparkSession."""
    spark.dataSource.register(ListingDataSource)


class ListingStreamReader(SimpleDataSourceStreamReader):
    """Incremental listing stream: each micro-batch emits files whose
    mtime advanced past the last committed watermark — the reference's
    repeated-scrape loop (one snapshot per run, src/main.rs:44-65)
    recast as a continuous source. Offsets are {"mtime_ns": int}:
    monotone, replayable (a restart re-reads from the committed
    watermark — at-least-once for equal-mtime races, exactly-once
    otherwise).

    Scale note: SimpleDataSourceStreamReader lists on the DRIVER and
    is the prototype-simplicity variant; the partition-parallel
    `DataSourceStreamReader` (plan-per-offset-range on executors, like
    the batch reader above) is the 100 TB form. The row schema and
    offset contract are identical, so swapping is mechanical."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.pattern = options.get("pattern", "*")
        self.created = check_created_mode(options.get("created", "stat"))

    def initialOffset(self) -> dict:
        return {"mtime_ns": -1}

    def _scan(self, after_ns: int, until_ns: int | None = None):
        """Files with after_ns < mtime_ns (<= until_ns if given).
        os.walk never follows symlinked dirs (followlinks=False) and
        tolerates unreadable dirs; the per-file lstat is additionally
        guarded so entries vanishing mid-scan are skipped, not fatal
        (the reference walk's filter_map_ok, src/fs.rs:88), and, like
        the batch reader, keeps only regular files (a symlink is not
        followed)."""
        newest = after_ns
        rows = []
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                if not fnmatch.fnmatch(f, self.pattern):
                    continue
                try:
                    st = os.lstat(os.path.join(dirpath, f))
                except OSError:
                    continue  # deleted between list and stat
                if not stat_mod.S_ISREG(st.st_mode):
                    continue
                if st.st_mtime_ns > after_ns and (
                    until_ns is None or st.st_mtime_ns <= until_ns
                ):
                    newest = max(newest, st.st_mtime_ns)
                    rows.append(file_row(dirpath, f, st, self.created))
        return rows, newest

    def read(self, start: dict):
        rows, newest = self._scan(start["mtime_ns"])
        return iter(rows), {"mtime_ns": newest}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Failure-recovery replay of a planned-but-uncommitted batch
        (the engine calls this on restart to re-emit [start, end]):
        rescan bounded above by the end offset so the replayed batch
        contains exactly the files that batch claimed — files touched
        after `end` stay in the NEXT batch. At-least-once for
        equal-mtime races, like the live path."""
        rows, _ = self._scan(start["mtime_ns"], until_ns=end["mtime_ns"])
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from the filesystem; nothing to ack


class ListingStreamDataSource(DataSource):
    """`readStream.format("pylisting_stream")` — the streaming twin of
    ListingDataSource (same options and row schema)."""

    @classmethod
    def name(cls) -> str:
        return "pylisting_stream"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> ListingStreamReader:  # noqa: ANN001
        return ListingStreamReader(self.options)


def register_stream(spark) -> None:  # noqa: ANN001
    """Idempotently register the streaming source with a session."""
    spark.dataSource.register(ListingStreamDataSource)
