"""The reference's filesystem listing (src/fs.rs:99 WalkDir walk ->
FileInfo projection, src/fs.rs:50-76) as two plain functions, plus
the Spark 4 Python DataSource pair (`pyspark.sql.datasource` API)
that exposes the listing as pluggable sources:
`spark.read.format("pylisting")` and
`spark.readStream.format("pylisting_stream")`.

Design for scale (the part that matters at a 100 TB tree):

- :func:`plan_shards` runs on the DRIVER. It lists the tree breadth
  first and runs on to the end while the tree has at most
  ``DRIVER_WALK_MAX_ENTRIES`` entries; such a tree needs no executor
  at all (Spark's ``InMemoryFileIndex`` lists small inputs on the
  driver for the same reason). Past the cap it stops and shards what
  it has, listed files and unlisted directories, into input
  partitions (the prefix-sharding strategy of S3 listers —
  ListObjectsV2 with delimiter '/' then fan out per prefix,
  src/s3.rs:87-100 is the single-worker version of this).
- :func:`walk_shard` does the recursive walk + stat of a list of
  entries: on EXECUTORS, one shard each, for a tree above the cap —
  the expensive, embarrassingly-parallel part, equivalent to the
  reference's intra-batch concurrent stat (src/fs.rs:85-89) but across
  machines — or on the driver over a walked plan. The walk's one
  `lstat` per entry yields every column, `created` included.

The fs scrape (``sources.fs.scrape_fs_batch``) builds its record
batches on the driver when the plan is walked and ships the shards as
one RDD otherwise; ``sources.fs.list_files`` and
``sources.fs.scrape_fs`` are lazy DataFrames over the RDD of shards,
with no Python planner process;
``ListingReader`` is the ``pylisting`` adapter over the same two
functions (its ``partitions()`` / ``read()``) and
``ListingStreamReader`` the ``pylisting_stream`` one, so there is one
listing implementation.

The walk yields each regular file's ``lstat`` result; its two
projections read the columns from it. The listing sources' row schema
(``SCHEMA``, :func:`listing_rows`) is the reference's FileInfo
(src/db.rs:10-18) minus external_source and mime_type, with aware UTC
datetimes. The fs scrape (``sources.fs.file_batches``) builds Arrow
record batches of all of FileInfo instead, with no per-file datetime.
Both take timestamps from the integer ``st_*_ns`` fields, truncated to
microseconds (Spark's TimestampType and the reference's precision).
"""

from __future__ import annotations

import fnmatch
import os
import stat as stat_mod
from collections import deque
from datetime import datetime, timedelta, timezone
from typing import Iterator, NamedTuple, Sequence

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


def _ts(us: int | None) -> datetime | None:
    """Epoch-µs -> aware UTC datetime (None stays None)."""
    return None if us is None else _EPOCH + timedelta(microseconds=us)


def created_us(
    st: os.stat_result, mode: str, dirpath: str, name: str
) -> int | None:
    """`created`, in integer µs since the epoch, from one stat result:
    st_birthtime where the platform has it (macOS/Windows/BSD), else
    st_ctime (Linux: inode-change time, the closest field; it moves
    when a file is replaced, which is what the A8 change predicate
    needs). ``mode="strict"`` raises instead of falling back (the
    reference's src/fs.rs:65); ``mode="none"`` leaves it NULL. Floored
    in integer arithmetic: a float st_mtime loses sub-microsecond
    digits and can round the microsecond itself."""
    if mode == "none":
        return None
    bt = getattr(st, "st_birthtime_ns", None)
    if bt is not None:
        return bt // 1_000
    bt = getattr(st, "st_birthtime", None)  # Python < 3.12: float only
    if bt is not None:
        return int(bt * 1_000_000)
    if mode == "strict":
        raise BirthtimeUnavailableError(
            f"no file-creation time available for "
            f"{os.path.join(dirpath, name)!r} "
            "(platform exposes no st_birthtime); use "
            "strict_created=False for the st_ctime fallback"
        )
    return st.st_ctime_ns // 1_000


def file_row(dirpath: str, name: str, st: os.stat_result, created: str) -> tuple:
    """One SCHEMA row from the walk's lstat of ``dirpath/name``."""
    # u64->i64 overflow -> NULL, like the reference's
    # size.try_into().ok() (src/db.rs:85)
    size = st.st_size if st.st_size <= 2**63 - 1 else None
    return (
        dirpath,
        name,
        size,
        _ts(st.st_mtime_ns // 1_000),
        _ts(created_us(st, created, dirpath, name)),
    )


def check_created_mode(mode: str) -> str:
    if mode not in CREATED_MODES:
        raise ValueError(f"created must be one of {CREATED_MODES}, got {mode!r}")
    return mode


#: Trees with at most this many entries (files, directories and
#: symlinks below the root) are walked on the driver to the end; a
#: larger tree is sharded to executors. Set safely below the measured
#: crossover of a warm driver walk and a warm RDD fetch (CHANGES.md:
#: on 4 vCPUs the driver walk wins at 10k files and loses at 15k).
DRIVER_WALK_MAX_ENTRIES = 10_000


class ShardPlan(NamedTuple):
    """What the driver's listing found: ``entries``, sorted, for
    :func:`walk_shard`. ``walked`` means the listing reached the end of
    the tree, so no entry is a directory left to descend (an unreadable
    one is kept for the walk to skip) and the walk is one ``lstat`` per
    entry."""

    entries: list[str]
    walked: bool

    def shards(self, nparts: int) -> list[list[str]]:
        """The entries round-robin in at most ``nparts`` lists (never
        empty: a tree with no entries is one empty shard)."""
        if not self.entries:
            return [[]]
        n = min(nparts, len(self.entries))
        return [self.entries[i::n] for i in range(n)]


def _scan_children(d: str) -> tuple[list[str], list[str]]:
    """(non-directories, directories) directly under ``d``; a symlink
    to a directory is a non-directory (never followed)."""
    files, dirs = [], []
    with os.scandir(d) as it:
        for e in it:
            (dirs if e.is_dir(follow_symlinks=False) else files).append(e.path)
    return files, dirs


def plan_shards(root: str) -> ShardPlan:
    """Driver-side, breadth-first listing of ``root``, one directory at
    a time.

    It runs on to the end of a tree of at most
    ``DRIVER_WALK_MAX_ENTRIES`` entries (``walked``). It stops after the
    directory whose listing passes the cap, so driver work stays
    bounded on a huge tree; the entries listed so far and the
    directories not yet listed are then shards for executor walks.
    Finishing that directory keeps a tree whose entries sit below one
    big directory (a root holding one directory, say) spread over every
    shard rather than walked in one task."""
    if not os.path.isdir(root):
        os.stat(root)  # a missing root fails the scrape
        return ShardPlan([root], True)  # WalkDir of a file: the file
    files, dirs = _scan_children(root)
    pending = deque(dirs)
    count = len(files) + len(dirs)
    while pending and count <= DRIVER_WALK_MAX_ENTRIES:
        d = pending.popleft()
        try:
            sub_files, sub_dirs = _scan_children(d)
        except OSError:
            files.append(d)  # unreadable: the walk skips it
            continue
        files += sub_files
        pending.extend(sub_dirs)
        count += len(sub_files) + len(sub_dirs)
    walked = not pending and count <= DRIVER_WALK_MAX_ENTRIES
    return ShardPlan(sorted(files + list(pending)), walked)


def walk_shard(entries: Sequence[str]) -> Iterator[tuple[str, str, os.stat_result]]:
    """Recursive walk + stat of ``entries`` (one shard on an executor,
    or a walked plan on the driver), yielding ``(dirpath, name, lstat
    result)`` for each regular file.

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
        yield dirpath, name, st


def listing_rows(
    entries: Sequence[str], created: str = "stat", pattern: str = "*"
) -> Iterator[tuple]:
    """:func:`walk_shard` projected to SCHEMA rows, for the files whose
    name matches ``pattern``."""
    for dirpath, name, st in walk_shard(entries):
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
        return [_Shard(s) for s in plan_shards(self.root).shards(self.nparts)]

    def read(self, partition: _Shard) -> Iterator[tuple]:
        return listing_rows(partition.entries, self.created, self.pattern)


def register(spark) -> None:  # noqa: ANN001
    """Idempotently register the source with a SparkSession."""
    spark.dataSource.register(ListingDataSource)


class ListingStreamReader(SimpleDataSourceStreamReader):
    """Incremental listing stream: each micro-batch emits files whose
    mtime advanced past the last committed watermark — the reference's
    repeated-scrape loop (one snapshot per run, src/main.rs:44-65)
    recast as a continuous source. Offsets are {"mtime_ns": int}: the
    newest row's ``modified`` in nanoseconds, so floored to
    microseconds like ``modified`` itself. They are monotone and
    replayable (a restart re-reads from the committed watermark —
    at-least-once for mtimes equal to the microsecond, exactly-once
    otherwise).

    Each scan is the batch listing, :func:`plan_shards` then
    :func:`walk_shard`, run on the DRIVER
    (SimpleDataSourceStreamReader's model), so one micro-batch holds
    the whole listing; the partition-parallel
    `DataSourceStreamReader` would walk the shards on executors like
    the batch reader above. The row schema and offset contract are
    identical, so swapping is mechanical."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.pattern = options.get("pattern", "*")
        self.created = check_created_mode(options.get("created", "stat"))

    def initialOffset(self) -> dict:
        return {"mtime_ns": -1}

    def _scan(self, after_ns: int, until_ns: int | None = None):
        """Rows with after_ns < mtime_ns (<= until_ns if given), and
        the newest such mtime_ns; mtime_ns is the row's ``modified``.
        The walk tolerates vanished and unreadable entries and keeps
        only regular files, like the batch reader."""
        newest = after_ns
        rows = []
        entries = plan_shards(self.root).entries
        for dirpath, name, st in walk_shard(entries):
            if not fnmatch.fnmatch(name, self.pattern):
                continue
            mtime_ns = st.st_mtime_ns // 1_000 * 1_000
            if mtime_ns > after_ns and (until_ns is None or mtime_ns <= until_ns):
                newest = max(newest, mtime_ns)
                rows.append(file_row(dirpath, name, st, self.created))
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
