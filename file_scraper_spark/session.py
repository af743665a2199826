"""SparkSession factory.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is superseded by AQE coalescing from an initial 2000.
- UTC session timezone so timestamp semantics match the reference's
  ``timestamptz`` model (SURVEY §1.4) and the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow path.
- Python workers fork from ``worker_daemon``, pyspark's daemon with a
  stamp-checked ``zipimporter.invalidate_caches``: a task no longer
  re-reads the pyspark and py4j zips (~0.15 s each task on Python 3.11).
  The package's parent directory is appended to the executors'
  ``PYTHONPATH``, so workers import the package (the daemon module and
  package UDFs) whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "file_scraper_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    conf = dict(extra_conf or {})
    caller_path = conf.pop("spark.executorEnv.PYTHONPATH", "")
    pythonpath = os.pathsep.join(p for p in (caller_path, _PACKAGE_PARENT) if p)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # an events.parquet stored as TIMESTAMP(NANOS) reads as epoch-nanos
        # long and is converted in tables.load (Spark's TimestampType is
        # micros); the fixtures store MICROS and need no conversion.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.python.daemon.module", "file_scraper_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
