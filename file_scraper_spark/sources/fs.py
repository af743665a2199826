"""Filesystem listing source (reference A1/A3/A4/A13, src/fs.rs).

Spark-first design: the recursive walk is executor-sharded. The
driver shards the tree's top entries (``pyds.plan_shards``) into one
RDD partition each; each executor task walks its shard
(``pyds.walk_shard``) and ``lstat``s every entry once — the analog of
the reference's async WalkDir + per-batch concurrent stat
(src/fs.rs:85-100). The RDD needs no Python DataSource planner
process, which the ``pylisting`` format (same two functions) starts
once to build and once to execute a read. File *contents
are never read*. Like WalkDir, the walk records every regular file:
zero-byte files, dot-files, files in dot-directories and ``_``-prefixed
names included (a JVM ``binaryFile`` listing silently drops all four).
Symlinks are not followed and are not file records.

The projected schema mirrors FileInfo (src/db.rs:10-18 -> FIXTURES.md §4):
external_source, path, filename, mime_type, created, modified, size.
``modified`` and ``created`` keep the stat's microseconds.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.sources import pyds
from file_scraper_spark.sources.mime import with_mime_type
from file_scraper_spark.sources.url import default_fs_identifier


def list_files(spark: SparkSession, root: str, created: str = "stat") -> DataFrame:
    """Recursive metadata-only listing of a directory tree, one input
    partition per shard (at most one per core): (path, filename, size,
    modified, created). ``created`` is one of ``pyds.CREATED_MODES``."""
    pyds.check_created_mode(created)
    sc = spark.sparkContext
    shards = pyds.plan_shards(root, sc.defaultParallelism)
    rows = sc.parallelize(shards, len(shards)).flatMap(
        partial(pyds.walk_shard, created=created)
    )
    return spark.createDataFrame(rows, pyds.SCHEMA)


def scrape_fs(
    spark: SparkSession,
    root: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
    strict_created: bool = False,
) -> DataFrame:
    """Full fs scrape dataflow: walk + stat -> FileInfo projection ->
    mime lookup.

    Equivalent of the reference walk pipeline minus the sink
    (src/fs.rs:98-117); feed the result to sinks.merge_sink.
    ``strict_created=True`` keeps the reference's error-on-missing-
    btime contract (pyds.BirthtimeUnavailableError); the default
    relaxes it to the st_ctime fallback.
    """
    identifier = identifier or default_fs_identifier(root)
    if not created_from_stat:
        created = "none"
    else:
        created = "strict" if strict_created else "stat"
    listed = list_files(spark, root, created)
    return with_mime_type(listed).select(
        F.lit(identifier).alias("external_source"),
        "path",
        "filename",
        "mime_type",
        "created",
        "modified",
        "size",
    )
