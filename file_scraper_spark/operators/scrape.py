"""Scrape-merge semantics — the reference's core, as declarative plans.

The reference synchronizes a Postgres table to an observed snapshot
with three relational steps, all inside one transaction
(/root/reference/src/db.rs:38-136):

  A8  upsert with change predicate  INSERT .. ON CONFLICT DO UPDATE ..
      WHERE the (created, modified, size) tuple changed — unchanged
      rows are NOT rewritten (preserves manual mime_type corrections,
      comment src/db.rs:88-90)
  A9  seen-set = (changed-or-new rows) UNION (no-op rows recovered via
      an inner join on key+tuple, src/db.rs:101-104 — RETURNING misses
      rows whose conflict-update predicate was false)
  A10 soft delete: rows of this source NOT in the seen-set get
      deleted = now()  (src/db.rs:48-65; note the reference re-stamps
      already-deleted rows every scrape)

Here those semantics are expressed as pure DataFrame plans over the
deterministic two-snapshot fixture derived from `events`
(FIXTURES.md §3): key = event_id, change tuple = (value, ts).

Scale notes: all three are single-shuffle equi-joins on the logical
key. On a real cluster both snapshots arrive partitioned by the same
key (bucketed staging), so the join co-locates; AQE handles skew.
The transactional sink version of the same plan lives in
sinks/merge_sink.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_scraper_spark.registry import query
from file_scraper_spark.tables import ORACLE_SF_DIR, load

#: constant soft-delete stamp (not now()) so results are hash-stable
DELETED_AT = "2024-02-01 00:00:00"


@query(
    "scrape_fs",
    oracle=f"""
    SELECT regexp_extract(file, '([^/]*)$', 1) AS filename,
           'application/vnd.apache.parquet' AS mime_type
    FROM glob('{ORACLE_SF_DIR}/*.parquet')
    """,
)
def scrape_fs_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A6 end-to-end: the real fs source scraping sf_dir itself
    (executor-sharded walk + stat -> FileInfo projection -> mime
    lookup). Oracle lists the same directory via DuckDB
    glob(); the oracle path is fixed at sf0.01 — the driver's t2 scale
    (TESTDATA.md) — because oracle SQL cannot receive sf_dir.
    """
    from file_scraper_spark.sources.fs import scrape_fs  # noqa: PLC0415

    return scrape_fs(spark, sf_dir, identifier="test").select(
        "filename", "mime_type"
    )

_FIXTURE_CTES = """
    WITH existing AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN value + 1.0 ELSE value END AS value,
             ts
      FROM events WHERE event_id % 10 <> 0
    ), found AS (
      SELECT event_id, user_id, event_type, value, ts
      FROM events WHERE event_id % 13 <> 0
    )
"""


def snapshot_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(existing, found) two-snapshot fixture per FIXTURES.md §3."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    existing = ev.filter(F.col("event_id") % 10 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    found = ev.filter(F.col("event_id") % 13 != 0)
    return existing, found


def classify_merge(existing: DataFrame, found: DataFrame) -> DataFrame:
    """Found rows classified insert/update/noop against existing.

    This is the batch-internal semantics of the reference's
    ``INSERT .. ON CONFLICT DO UPDATE .. WHERE tuple <> tuple``
    (src/db.rs:92-124) as a left join + CASE: the change predicate
    compares the (value, ts) tuple exactly like the reference compares
    (created, modified, size); NULL-safe so a NULL field (e.g. the
    overflow-NULL size, src/db.rs:85) still compares correctly.
    """
    e = existing.select(
        F.col("event_id"),
        F.col("value").alias("e_value"),
        F.col("ts").alias("e_ts"),
        F.lit(1).alias("e_present"),
    )
    tuple_changed = ~F.col("value").eqNullSafe(F.col("e_value")) | ~F.col(
        "ts"
    ).eqNullSafe(F.col("e_ts"))
    return (
        found.join(e, "event_id", "left")
        .withColumn(
            "action",
            F.when(F.col("e_present").isNull(), F.lit("insert"))
            .when(tuple_changed, F.lit("update"))
            .otherwise(F.lit("noop")),
        )
        .select("event_id", "user_id", "event_type", "value", "ts", "action")
    )


@query(
    "merge_upsert",
    oracle=_FIXTURE_CTES
    + """
    SELECT f.event_id, f.user_id, f.event_type, f.value, f.ts,
           CASE WHEN e.event_id IS NULL THEN 'insert'
                WHEN f.value IS DISTINCT FROM e.value
                     OR f.ts IS DISTINCT FROM e.ts THEN 'update'
                ELSE 'noop' END AS action
    FROM found f LEFT JOIN existing e ON f.event_id = e.event_id
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: upsert classification with the tuple-change predicate."""
    existing, found = snapshot_pair(spark, sf_dir)
    return classify_merge(existing, found)


@query(
    "union_seen",
    oracle=_FIXTURE_CTES
    + """
    , changed_or_new AS (
      SELECT f.event_id
      FROM found f LEFT JOIN existing e ON f.event_id = e.event_id
      WHERE e.event_id IS NULL
         OR f.value IS DISTINCT FROM e.value
         OR f.ts IS DISTINCT FROM e.ts
    ), noop_matches AS (
      SELECT f.event_id
      FROM found f JOIN existing e
        ON f.event_id = e.event_id AND f.value = e.value AND f.ts = e.ts
    )
    SELECT event_id FROM changed_or_new
    UNION
    SELECT event_id FROM noop_matches
    """,
)
def union_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: seen-set accumulation — changed-or-new branch UNION the
    no-op branch recovered by an inner join on key + identical tuple
    (mirrors the reference's `existing` CTE, src/db.rs:101-104)."""
    existing, found = snapshot_pair(spark, sf_dir)
    classified = classify_merge(existing, found)
    changed_or_new = classified.filter(F.col("action") != "noop").select("event_id")
    noop_matches = found.join(
        existing, on=["event_id", "value", "ts"], how="inner"
    ).select("event_id")
    return changed_or_new.union(noop_matches).distinct()


@query(
    "antijoin_deleted",
    oracle=_FIXTURE_CTES
    + f"""
    SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts,
           TIMESTAMP '{DELETED_AT}' AS deleted
    FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM found f WHERE f.event_id = e.event_id)
    """,
)
def antijoin_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: soft-delete anti-join — existing rows absent from the scan
    get a deleted stamp (constant literal for hash stability; the sink
    uses the scrape timestamp, src/db.rs:54)."""
    existing, found = snapshot_pair(spark, sf_dir)
    return existing.join(found, "event_id", "left_anti").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.lit(DELETED_AT).cast("timestamp").alias("deleted"),
    )


@query(
    "scrape_merge_full",
    oracle=_FIXTURE_CTES
    + f"""
    SELECT f.event_id, f.user_id, f.event_type, f.value, f.ts,
           CAST(NULL AS TIMESTAMP) AS deleted,
           CASE WHEN e.event_id IS NULL THEN 'insert'
                WHEN f.value IS DISTINCT FROM e.value
                     OR f.ts IS DISTINCT FROM e.ts THEN 'update'
                ELSE 'noop' END AS action
    FROM found f LEFT JOIN existing e ON f.event_id = e.event_id
    UNION ALL
    SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts,
           TIMESTAMP '{DELETED_AT}' AS deleted, 'delete' AS action
    FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM found f WHERE f.event_id = e.event_id)
    """,
)
def scrape_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete post-scrape table state (A8+A10 in one result):
    upserted found rows plus soft-deleted vanished rows — what the
    reference's one-transaction snapshot sync leaves in external_file
    (src/fs.rs:103-116)."""
    existing, found = snapshot_pair(spark, sf_dir)
    upserted = classify_merge(existing, found).withColumn(
        "deleted", F.lit(None).cast("timestamp")
    )
    deleted = (
        existing.join(found, "event_id", "left_anti")
        .withColumn("deleted", F.lit(DELETED_AT).cast("timestamp"))
        .withColumn("action", F.lit("delete"))
    )
    cols = ["event_id", "user_id", "event_type", "value", "ts", "deleted", "action"]
    return upserted.select(cols).unionAll(deleted.select(cols))


@query(
    "python_datasource",
    oracle=f"""
    SELECT regexp_extract(file, '([^/]*)$', 1) AS filename,
           CAST(1 AS INT) AS listed
    FROM glob('{ORACLE_SF_DIR}/*.parquet')
    """,
    tags=("source",),
)
def python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a first-class pluggable source: the filesystem listing
    implemented with Spark 4's Python DataSource API
    (`spark.read.format("pylisting")`) — driver shards prefixes,
    executors walk + stat their shard (sources/pyds.py). Like
    scrape_fs, the output sticks to scale-invariant columns (the
    oracle's glob path is fixed at sf0.01 because oracle SQL cannot
    receive sf_dir; filenames are identical across SFs, sizes are
    not). Size/mtime fidelity is unit-tested against os.stat in
    tests/test_sources.py."""
    from file_scraper_spark.sources import pyds  # noqa: PLC0415

    pyds.register(spark)
    df = (
        spark.read.format("pylisting")
        .option("path", sf_dir)
        .option("pattern", "*.parquet")
        .load()
    )
    return df.select("filename", F.lit(1).alias("listed"))


@query(
    "snapshot_diff",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END
               AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
    ), j AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             a.text AS a_text, b.text AS b_text
      FROM documents a FULL OUTER JOIN b ON b.doc_id = a.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE
               WHEN a_id IS NULL THEN 'added'
               WHEN b_id IS NULL THEN 'removed'
               WHEN a_text IS DISTINCT FROM b_text THEN 'changed'
               ELSE 'unchanged' END AS status
      FROM j
    ) GROUP BY status
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff report between two scrape snapshots —
    the summary a repeated-scrape pipeline publishes per run (the
    reference's merge/seen-set/anti-join trio APPLIES the changes;
    this op REPORTS them). Snapshot B is derived in-plan (deletions:
    doc_id % 7, mutations: upper() at doc_id % 5, insertions: shifted
    ids at doc_id % 11) so the classification is deterministic and
    oracle-replayable.

    One full outer join on the key, then a CASE classification with a
    null-safe text comparison (IS DISTINCT FROM — a NULL body that
    appears or disappears IS a change, which naive <> would silently
    drop under 3VL). Scales as one co-partitioned shuffle on the key;
    at 100 TB both snapshots would be bucketed on doc_id and the join
    becomes exchange-free (tests/test_plans.py bucketed-join
    pattern)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0, F.upper("text")
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    a = docs.select(
        F.col("doc_id").alias("a_id"), F.col("text").alias("a_text")
    )
    bb = b.select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("b_text")
    )
    j = a.join(bb, a["a_id"] == bb["b_id"], "full_outer")
    status = (
        F.when(F.col("a_id").isNull(), F.lit("added"))
        .when(F.col("b_id").isNull(), F.lit("removed"))
        .when(
            ~F.col("a_text").eqNullSafe(F.col("b_text")), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
