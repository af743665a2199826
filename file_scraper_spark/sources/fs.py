"""Filesystem listing source (reference A1/A3/A4/A6/A13, src/fs.rs).

The driver lists the tree breadth first (``pyds.plan_shards``). A tree
of at most ``pyds.DRIVER_WALK_MAX_ENTRIES`` entries is listed to the
end and walked right there; a larger one is sharded, one RDD partition
per shard, and each executor task walks its shard (``pyds.walk_shard``).
Either way the walk ``lstat``s every entry once — the analog of the
reference's async WalkDir + per-batch concurrent stat (src/fs.rs:85-100;
concurrent across executors above the cap, serial on the driver below
it, where a Spark job costs more than the stats). File *contents are
never read*. Like WalkDir, the walk records every regular file:
zero-byte files, dot-files, files in dot-directories and
``_``-prefixed names included (a JVM ``binaryFile`` listing silently
drops all four). Symlinks are not followed and are not file records.

The scrape is a straight-line dataflow with no planner, like the
reference's. The walk projects each file to FileInfo column by column
(src/db.rs:10-18 -> FIXTURES.md §4; the order of
``merge_sink.FILE_COLUMNS``): external_source, path, filename,
mime_type (the Python lookup ``mime.mime_type``), created, modified,
size. :func:`file_batches` appends each file's values to column lists
and emits an Arrow record batch per ``BATCH_ROWS`` files
(``merge_sink.file_batch``): ``modified`` and ``created`` are integer
microseconds from the stat's ``st_*_ns`` fields, stored as naive UTC
``timestamp('us')``, with no per-file ``datetime``. Rows become columns
once, where they are made. :func:`scrape_fs_batch` is what the batch
sink fetches (``MergeSink.sync_snapshot``): the list of batches when
the driver walked the tree — no Spark job, and no SparkSession needed
— else an RDD of one Arrow IPC stream per shard, which the sink
collects in one job. Neither path runs Spark SQL. :func:`scrape_fs` is
the same walk's rows over the shards as a DataFrame (``FILE_SCHEMA``,
timestamps ``timestamp_ntz``) for the queries. :func:`list_files` is
the bare walk as a DataFrame (``pyds.SCHEMA``), the same rows
``format("pylisting")`` reads. Both stay lazy whatever the tree's
size: building them lists the tree but stats nothing.

Quirk parity: the reference populates `created` from the platform's
file-creation time and *errors* where btime is unavailable
(`metadata.created()?`, src/fs.rs:65). Erroring a 1000-executor job
for a missing btime is wrong at scale, so we relax: the walk's lstat
fills `created` from st_birthtime where the platform exposes it
(macOS/Windows/BSD), falling back to st_ctime (Linux: inode-change
time — the closest stat field; it moves when a file is replaced, which
is what the A8 change predicate needs). ``strict_created=True`` keeps
the reference's error instead; ``created_from_stat=False`` leaves
`created` NULL. Both reach the walk as its ``created`` mode.
"""

from __future__ import annotations

from functools import partial
from itertools import islice
from typing import Callable, Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

from file_scraper_spark.sinks.merge_sink import FILE_ARROW_SCHEMA, file_batch
from file_scraper_spark.sources import pyds
from file_scraper_spark.sources.mime import mime_type
from file_scraper_spark.sources.url import default_fs_identifier

#: The FileInfo rows of :func:`scrape_fs` as a DataFrame schema.
FILE_SCHEMA = (
    "external_source string, path string, filename string, "
    "mime_type string, created timestamp_ntz, modified timestamp_ntz, "
    "size long"
)

#: Files per record batch of :func:`file_batches`: it bounds the walk's
#: Python column lists and is one staging statement in the sink.
BATCH_ROWS = 65_536


def _shard_rdd(spark: SparkSession, plan: pyds.ShardPlan) -> RDD:
    """The shards of ``plan``, one input partition per shard (at most
    one per core)."""
    sc = spark.sparkContext
    shards = plan.shards(sc.defaultParallelism)
    return sc.parallelize(shards, len(shards))


def list_files(spark: SparkSession, root: str, created: str = "stat") -> DataFrame:
    """Recursive metadata-only listing of a directory tree: (path,
    filename, size, modified, created). ``created`` is one of
    ``pyds.CREATED_MODES``."""
    pyds.check_created_mode(created)
    walk = partial(pyds.listing_rows, created=created)
    rdd = _shard_rdd(spark, pyds.plan_shards(root)).flatMap(walk)
    return spark.createDataFrame(rdd, pyds.SCHEMA)


def file_batches(
    entries: Sequence[str], identifier: str, created: str
) -> Iterator[pa.RecordBatch]:
    """Walk ``entries`` and project each regular file to FILE_COLUMNS:
    one record batch per ``BATCH_ROWS`` files."""
    walk = pyds.walk_shard(entries)
    while chunk := list(islice(walk, BATCH_ROWS)):
        dirpaths, names, stats = zip(*chunk)
        yield file_batch((
            [identifier] * len(chunk),
            dirpaths,
            names,
            [mime_type(name) for name in names],
            [pyds.created_us(st, created, d, n) for d, n, st in chunk],
            [st.st_mtime_ns // 1_000 for st in stats],
            [st.st_size for st in stats],
        ))


def _file_batches_walk(
    root: str,
    identifier: str | None,
    created_from_stat: bool,
    strict_created: bool,
) -> Callable[[Sequence[str]], Iterator[pa.RecordBatch]]:
    """:func:`file_batches` with the scrape's identifier and created
    mode bound. ``strict_created=True`` keeps the reference's
    error-on-missing-btime contract (pyds.BirthtimeUnavailableError);
    the default relaxes it to the st_ctime fallback."""
    identifier = identifier or default_fs_identifier(root)
    if not created_from_stat:
        created = "none"
    else:
        created = "strict" if strict_created else "stat"
    return partial(file_batches, identifier=identifier, created=created)


def ipc_stream(batches: Iterable[pa.RecordBatch]) -> bytes:
    """``batches`` as one Arrow IPC stream (``FILE_ARROW_SCHEMA``)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, FILE_ARROW_SCHEMA) as writer:
        for batch in batches:
            writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _batch_rows(batches: Iterable[pa.RecordBatch]) -> Iterator[tuple]:
    for batch in batches:
        yield from zip(*(column.to_pylist() for column in batch.columns))


def scrape_fs_batch(
    session: Callable[[], SparkSession],
    root: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
    strict_created: bool = False,
) -> list[pa.RecordBatch] | RDD:
    """Full fs scrape dataflow — walk + stat -> FileInfo projection ->
    mime lookup — as FILE_ARROW_SCHEMA record batches: a list built on
    the driver when ``pyds.plan_shards`` walked the whole tree, else an
    RDD of one IPC stream (:func:`ipc_stream`) per shard. ``session`` is
    called only in the second case, so a small tree is scraped without
    starting Spark.

    Equivalent of the reference walk pipeline minus the sink
    (src/fs.rs:98-117); feed the result to sinks.merge_sink.
    """
    walk = _file_batches_walk(root, identifier, created_from_stat, strict_created)
    plan = pyds.plan_shards(root)
    if plan.walked:
        return list(walk(plan.entries))
    return _shard_rdd(session(), plan).map(lambda shard: ipc_stream(walk(shard)))


def scrape_fs(
    spark: SparkSession,
    root: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
    strict_created: bool = False,
) -> DataFrame:
    """The fs scrape's FileInfo rows as a lazy DataFrame with
    ``FILE_SCHEMA``, walked by executors over the shards of
    ``pyds.plan_shards`` whatever the tree's size."""
    walk = _file_batches_walk(root, identifier, created_from_stat, strict_created)
    rdd = _shard_rdd(spark, pyds.plan_shards(root)).flatMap(
        lambda shard: _batch_rows(walk(shard))
    )
    return spark.createDataFrame(rdd, FILE_SCHEMA)
