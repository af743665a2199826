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
reference's: the walk projects each file to a FileInfo tuple
(src/db.rs:10-18 -> FIXTURES.md §4; the order of
``merge_sink.FILE_COLUMNS``): external_source, path, filename,
mime_type (the Python lookup ``mime.mime_type``), created, modified,
size. ``modified`` and ``created`` are naive UTC and keep the stat's
microseconds. :func:`scrape_fs_batch` is what the batch sink fetches
(``MergeSink.sync_snapshot``): the list of tuples when the driver
walked the tree — no Spark job, and no SparkSession needed — else the
RDD, which the sink collects in one job. Neither path runs Spark SQL.
:func:`scrape_fs` is the RDD over the shards as a DataFrame
(``FILE_SCHEMA``, timestamps ``timestamp_ntz``) for the queries and the
parallel sink. :func:`list_files` is the bare walk as a DataFrame
(``pyds.SCHEMA``), the same rows ``format("pylisting")`` reads. Both
stay lazy whatever the tree's size: building them lists the tree but
stats nothing.

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
from typing import Callable, Iterator, Sequence

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

from file_scraper_spark.sources import pyds
from file_scraper_spark.sources.mime import mime_type
from file_scraper_spark.sources.url import default_fs_identifier

#: The FileInfo rows of :func:`scrape_fs_batch` as a DataFrame schema.
FILE_SCHEMA = (
    "external_source string, path string, filename string, "
    "mime_type string, created timestamp_ntz, modified timestamp_ntz, "
    "size long"
)


def _walk_rdd(
    spark: SparkSession,
    plan: pyds.ShardPlan,
    walk: Callable[[Sequence[str]], Iterator],
) -> RDD:
    """``walk`` applied to each shard of ``plan``, one input partition
    per shard (at most one per core)."""
    sc = spark.sparkContext
    shards = plan.shards(sc.defaultParallelism)
    return sc.parallelize(shards, len(shards)).flatMap(walk)


def list_files(spark: SparkSession, root: str, created: str = "stat") -> DataFrame:
    """Recursive metadata-only listing of a directory tree: (path,
    filename, size, modified, created). ``created`` is one of
    ``pyds.CREATED_MODES``."""
    pyds.check_created_mode(created)
    walk = partial(pyds.walk_shard, created=created)
    rdd = _walk_rdd(spark, pyds.plan_shards(root), walk)
    return spark.createDataFrame(rdd, pyds.SCHEMA)


def file_infos(
    entries: Sequence[str], identifier: str, created: str
) -> Iterator[tuple]:
    """Walk ``entries`` and project each regular file to a FILE_SCHEMA
    tuple. The walk's timestamps are aware UTC; dropping the zone leaves
    naive UTC, which the sink stores as is."""
    for path, filename, size, modified, created_at in pyds.walk_shard(
        entries, created
    ):
        yield (
            identifier,
            path,
            filename,
            mime_type(filename),
            created_at and created_at.replace(tzinfo=None),
            modified.replace(tzinfo=None),
            size,
        )


def _file_infos_walk(
    root: str,
    identifier: str | None,
    created_from_stat: bool,
    strict_created: bool,
) -> Callable[[Sequence[str]], Iterator[tuple]]:
    """:func:`file_infos` with the scrape's identifier and created mode
    bound. ``strict_created=True`` keeps the reference's
    error-on-missing-btime contract (pyds.BirthtimeUnavailableError);
    the default relaxes it to the st_ctime fallback."""
    identifier = identifier or default_fs_identifier(root)
    if not created_from_stat:
        created = "none"
    else:
        created = "strict" if strict_created else "stat"
    return partial(file_infos, identifier=identifier, created=created)


def scrape_fs_batch(
    session: Callable[[], SparkSession],
    root: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
    strict_created: bool = False,
) -> list[tuple] | RDD:
    """Full fs scrape dataflow — walk + stat -> FileInfo projection ->
    mime lookup — as FILE_SCHEMA tuples: a list built on the driver
    when ``pyds.plan_shards`` walked the whole tree, else an RDD over
    its shards. ``session`` is called only in the second case, so a
    small tree is scraped without starting Spark.

    Equivalent of the reference walk pipeline minus the sink
    (src/fs.rs:98-117); feed the result to sinks.merge_sink.
    """
    walk = _file_infos_walk(root, identifier, created_from_stat, strict_created)
    plan = pyds.plan_shards(root)
    if plan.walked:
        return list(walk(plan.entries))
    return _walk_rdd(session(), plan, walk)


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
    walk = _file_infos_walk(root, identifier, created_from_stat, strict_created)
    rdd = _walk_rdd(spark, pyds.plan_shards(root), walk)
    return spark.createDataFrame(rdd, FILE_SCHEMA)
