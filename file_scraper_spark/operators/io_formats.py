"""Source/sink format coverage: CSV, JSON, partitioned parquet.

Each query round-trips fixture data through a format into a unique
temp directory and reads it back with an explicit schema (never
inferSchema — SURVEY §1.4), then aggregates; the oracle runs the same
aggregate on the original table, so the round-trip itself is what's
being verified. Only integer/string columns cross text formats
(float text round-trips are not bit-stable by design).

The partitioned-parquet query demonstrates partition pruning: the
read-back filter on the partition column must reach PartitionFilters
(asserted in tests/test_plans.py), which at 100 TB is the difference
between scanning one partition and scanning the lake.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.functions.exact import dsum, oracle_dsum
from file_scraper_spark.registry import query
from file_scraper_spark.tables import load


def _tmpdir(name: str) -> str:
    """Stable per-query scratch dir: overwrite-mode writes replace the
    contents, so repeated runs reuse the same space instead of leaking
    a fresh mkdtemp copy of the table per invocation."""
    d = os.path.join(tempfile.gettempdir(), "fss_io", name)
    os.makedirs(d, exist_ok=True)
    return d


@query(
    "csv_roundtrip",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> CSV -> explicit-schema read -> aggregate."""
    out = _tmpdir("fss_csv_")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    docs.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .option("header", "true")
        .csv(out)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events
    GROUP BY event_type
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSON lines -> explicit-schema read -> aggregate."""
    out = _tmpdir("fss_json_")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("uid_sum"),
    )


@query(
    "partitioned_write_read",
    oracle=f"""
    SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           {oracle_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def partitioned_write_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> parquet partitioned by l_returnflag -> read back
    filtered to one partition (pruned scan) -> aggregate."""
    out = _tmpdir("fss_part_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


def partition_pruned_plan(spark: SparkSession, sf_dir: str) -> str:
    """Physical plan of the pruned read-back (for plan tests)."""
    out = _tmpdir("fss_prune_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    return back._jdf.queryExecution().executedPlan().toString()


@query(
    "orc_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {oracle_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> ORC -> read back -> aggregate. ORC is the second
    columnar format Spark ships natively (vectorized reader, predicate
    pushdown via min/max stripes like parquet); unlike the text
    formats, doubles round-trip bit-exactly, so the aggregate runs on
    the read-back values."""
    out = _tmpdir("fss_orc_")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("sum_price")
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> XML -> read back -> aggregate, through the built-in
    XML format (native in Spark 4; previously the spark-xml package).
    Doubles do NOT reliably round-trip through XML text, so the
    aggregate sticks to integer columns — the same rule the CSV/JSON
    roundtrips follow.

    Scale shape: XML writing/parsing is row-wise text work (no
    vectorized reader) — the format for INTEROP edges of a pipeline,
    not the hot path; this query pins that the edge exists and is
    lossless for the types it claims."""
    out = _tmpdir("fss_xml_")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    (
        orders.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "order")
        .save(out)
    )
    # explicit schema, like every other roundtrip here: without it the
    # XML source runs schema INFERENCE — a full extra parse pass over
    # the written files before the real read (r13 optimization; the
    # rest of this module always declared schemas, this reader was the
    # one gap)
    back = (
        spark.read.format("xml")
        .schema("o_orderkey long, o_orderstatus string")
        .option("rowTag", "order")
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"),
    )


@query(
    "file_metadata_cols",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_linenumber) AS BIGINT) AS line_sum
    FROM lineitem
    """,
)
def file_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name` etc.):
    every file-source row carries its provenance without any join —
    the lineage primitive for incremental pipelines (which file did
    this record come from, for replay/quarantine?). The reference
    carries provenance as the external_source column it threads by
    hand (src/fs.rs:43-47); Spark surfaces it for free.

    Scale shape: the metadata struct is populated at scan time from
    the split, zero I/O; grouping by file name costs one map-side
    combined shuffle with one row per file."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("_metadata.file_name").alias("file_name")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_linenumber").alias("line_sum"),
    )


@query(
    "schema_evolution_read",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
                AS BIGINT) AS n_evolved,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
                AS BIGINT) AS evolved_chars
    FROM documents
    GROUP BY lang
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet shards WITHOUT rewriting
    history: generation 1 was written before the n_chars column
    existed, generation 2 carries it; one mergeSchema read unions the
    footer schemas and old-shard rows surface the new column as NULL
    — the append-only evolution contract a 100 TB lake depends on
    (rewriting petabytes of old shards for a new column is not an
    option). The aggregate proves both generations participate: every
    doc counts, only generation-2 docs fill the evolved column.

    Scale note: mergeSchema reads every file footer at planning time;
    keep it per-evolved-table (as here), not a global default, and
    compact generations once a column stabilizes."""
    out = _tmpdir("fss_evo_")
    docs = load(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_chars").alias("n_evolved"),
        F.sum("n_chars").alias("evolved_chars"),
    )
