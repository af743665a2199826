"""Top-level scrape pipeline (reference src/main.rs).

``scrape_all`` is the engine's equivalent of the reference CLI run:
one independent scrape per path (A12 — the reference spawns one tokio
task with its own DB pool per path, src/main.rs:44-65), scheme
dispatch per path (A14), one sink connection and transaction per
scrape, which creates the target table if missing (A15), and fail-fast
(src/main.rs:61-65: the first error aborts the run).

An fs tree of at most ``pyds.DRIVER_WALK_MAX_ENTRIES`` entries is
walked and projected on the driver, with no Spark job and no
SparkSession: ``scrape_all`` takes a session or a function that returns
one, and calls the function only for a source with work to ship. On a
cluster each other scrape is one independent Spark job, run when the
sink fetches the snapshot; for fs the listing, projection and mime
lookup run in the executors' walk tasks, with no Spark SQL. Sources are
processed sequentially on the driver — parallel sources would just
contend for the same executors; within a source Spark already uses
the whole cluster.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from file_scraper_spark.sinks.merge_sink import MergeSink
from file_scraper_spark.sources.dispatch import source_for_path


def scrape_all(
    spark: SparkSession | Callable[[], SparkSession],
    paths: list[str],
    sink: MergeSink,
    identifier: str | None = None,
    scrape_time: datetime | None = None,
    created_from_stat: bool = True,
) -> list[str]:
    """Scrape every path into the sink; returns the identifiers used.
    ``spark`` is a session or a function that starts one on demand."""
    session = spark if callable(spark) else lambda: spark
    scrape_time = scrape_time or datetime.now(timezone.utc).replace(tzinfo=None)
    identifiers = []
    for path in paths:
        source = source_for_path(
            path, identifier, created_from_stat=created_from_stat
        )
        found = source.scrape(session)
        sink.sync_snapshot(found, source.identifier, scrape_time)
        identifiers.append(source.identifier)
    return identifiers


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 512,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~target_file_mb each; returns the output file count.

    Small files are the classic failure mode of incremental ingestion
    (every micro-batch of the reference's 200-entry flush, src/fs.rs:
    100, would land one file): at 100 TB a listing of millions of tiny
    files dominates query planning and every task reads one file's
    worth of rows. Compaction sizes file count from the ACTUAL bytes
    on disk (not row counts), uses coalesce() — a shuffle-free
    narrow repartitioning that only merges read splits — and writes
    zstd, so the rewrite cost is one read + one write.
    """
    import math  # noqa: PLC0415
    import os  # noqa: PLC0415

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    (
        spark.read.parquet(src)
        .coalesce(n_files)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(dst)
    )
    return sum(
        1
        for root, _, files in os.walk(dst)
        for f in files
        if f.endswith(".parquet")
    )
