"""Incremental (streaming) scrape — the reference's micro-batched walk
(A5) mapped onto Structured Streaming.

``scrape_stream`` reads the directory tree as a file stream, projects
FileInfo rows per micro-batch, and folds every batch into ONE open
sink transaction via foreachBatch; after the stream drains, the
soft-delete anti-join runs and the transaction commits — the same
one-visible-snapshot guarantee as the batch path (A15), with batches
flowing through incrementally like the reference's chunks_timeout
pipeline (src/fs.rs:98-117).

foreachBatch executes on the driver, so all batches share the sink
connection; each micro-batch is fetched with one ``collect`` (one
Spark job for all its partitions), so driver memory holds one batch
(bounded by ``max_files_per_trigger``). The fetch casts ``created`` /
``modified`` to ``timestamp_ntz`` (``merge_sink.file_columns``), so
the sink stores naive UTC whatever the driver's time zone.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.sinks.merge_sink import (
    FILE_COLUMNS,
    MergeSink,
    file_columns,
)
from file_scraper_spark.sources.mime import with_mime_type
from file_scraper_spark.sources.url import default_fs_identifier


def project_listing(listed: DataFrame, identifier: str) -> DataFrame:
    """(path, modificationTime, length) ``binaryFile`` listing ->
    FileInfo rows; `created` is NULL (the listing carries no stat)."""
    # strip the scheme Spark prepends (file:/...) to match os paths
    clean = F.regexp_replace("path", r"^file:", "")
    projected = listed.select(
        F.lit(identifier).alias("external_source"),
        F.regexp_extract(clean, r"^(.*)/[^/]*$", 1).alias("path"),
        F.substring_index(clean, "/", -1).alias("filename"),
        F.lit(None).cast("timestamp").alias("created"),
        F.col("modificationTime").alias("modified"),
        F.col("length").cast("long").alias("size"),
    )
    return with_mime_type(projected).select(*FILE_COLUMNS)


def scrape_stream(
    spark: SparkSession,
    root: str,
    sink: MergeSink,
    identifier: str | None = None,
    scrape_time: datetime | None = None,
    max_files_per_trigger: int = 200,
) -> str:
    """One streaming scrape of ``root``; returns the identifier.

    ``max_files_per_trigger`` plays the reference's batch-size knob
    (200 entries, src/fs.rs:100).
    """
    identifier = identifier or default_fs_identifier(root)
    scrape_time = scrape_time or datetime.now(timezone.utc).replace(tzinfo=None)

    try:
        listed = (
            spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .load(root)
            .select("path", "modificationTime", "length")  # content pruned
        )
    except Exception as e:
        from file_scraper_spark.sources.s3 import (  # noqa: PLC0415
            raise_translated_s3a_error,
        )

        raise_translated_s3a_error(e)
    found = project_listing(listed, identifier)
    _fold_stream_into_sink(
        found, sink, identifier, scrape_time, available_now=True
    )
    return identifier


def _fold_stream_into_sink(
    found: DataFrame,
    sink: MergeSink,
    identifier: str,
    scrape_time: datetime,
    available_now: bool,
) -> None:
    """Stage every micro-batch of ``found`` (FileInfo rows) in ONE
    open sink transaction; merge and commit once, after the stream
    drains, abort on any failure — the one-visible-snapshot guarantee
    (A15) shared by every streaming scrape source. A file seen in two
    micro-batches is stored as its later observation.

    ``available_now=True`` uses trigger(availableNow) (file sources);
    ``False`` drives with processAllAvailable + stop — the pattern
    the Python DataSource stream reader needs (its mtime-watermark
    source is unbounded, so availableNow semantics don't apply)."""
    with sink.transaction(identifier, scrape_time) as session:
        def merge_batch(batch_df: DataFrame, _epoch: int) -> None:
            session.add_rows(file_columns(batch_df).collect())

        writer = found.writeStream.foreachBatch(merge_batch)
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            if available_now:
                q.awaitTermination()
            else:
                q.processAllAvailable()
                q.stop()
        except Exception:
            q.stop()
            raise


def scrape_stream_pylisting(
    spark: SparkSession,
    root: str,
    sink: MergeSink,
    identifier: str | None = None,
    scrape_time: datetime | None = None,
    pattern: str = "*",
) -> str:
    """Streaming scrape through the Python DataSource listing
    (sources/pyds.py: executor-side recursive walk + stat, the
    reference walk as a first-class source) instead of the JVM
    binaryFile stream — same FileInfo projection, same one-
    transaction merge semantics as ``scrape_stream``.

    The pyds rows carry `created` from the walk's lstat; mime comes
    from the extension lookup (with_mime_type)."""
    from file_scraper_spark.sources import pyds  # noqa: PLC0415

    identifier = identifier or default_fs_identifier(root)
    scrape_time = scrape_time or datetime.now(timezone.utc).replace(tzinfo=None)

    pyds.register_stream(spark)
    listed = (
        spark.readStream.format("pylisting_stream")
        .option("path", root)
        .option("pattern", pattern)
        .load()
    )
    found = with_mime_type(
        listed.withColumn("external_source", F.lit(identifier))
    ).select(*FILE_COLUMNS)
    _fold_stream_into_sink(
        found, sink, identifier, scrape_time, available_now=False
    )
    return identifier
