"""Source dispatch (reference A14, src/worker.rs + src/main.rs:72-81):
try the S3 interpretation of the path first, fall back to filesystem.

A source's ``scrape`` takes a zero-argument function that returns the
SparkSession, and calls it only when it has work to ship. It returns
what ``MergeSink.sync_snapshot`` fetches: for fs, FileInfo Arrow record
batches as a list when the driver walked the tree, else an RDD of Arrow
IPC streams built in Python on the executors (no Spark SQL either way —
sources/fs.py); for S3, a DataFrame (its listing rows are made in the
JVM).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

from file_scraper_spark.sources.url import (
    default_fs_identifier,
    parse_s3_url,
)


@dataclass(frozen=True)
class Source:
    kind: str  # 's3' | 'fs'
    identifier: str
    scrape: Callable[
        [Callable[[], SparkSession]], DataFrame | RDD | list[pa.RecordBatch]
    ]


def source_for_path(
    path: str,
    identifier: str | None = None,
    created_from_stat: bool = True,
) -> Source:
    """Scheme-sniff a CLI path into a Source (s3 first, fs fallback).

    ``created_from_stat`` applies only to fs sources (S3 has no create
    time — src/s3.rs:123): False leaves `created` NULL (see
    sources/fs.py)."""
    loc = parse_s3_url(path)
    if loc is not None:
        from file_scraper_spark.sources.s3 import scrape_s3  # noqa: PLC0415

        ident = identifier or loc.url
        return Source(
            kind="s3",
            identifier=ident,
            scrape=lambda session: scrape_s3(session(), loc, ident),
        )
    from file_scraper_spark.sources.fs import scrape_fs_batch  # noqa: PLC0415

    ident = identifier or default_fs_identifier(path)
    return Source(
        kind="fs",
        identifier=ident,
        scrape=lambda session: scrape_fs_batch(
            session, path, ident, created_from_stat=created_from_stat
        ),
    )
