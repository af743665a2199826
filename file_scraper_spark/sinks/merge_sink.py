"""Transactional snapshot-merge sink (reference A8/A9/A10/A15).

Synchronizes a database table ``external_file`` to an observed
snapshot DataFrame, faithfully reproducing the reference semantics
(/root/reference/src/db.rs:38-136):

- **Upsert with change predicate** (A8): insert new keys; update an
  existing key's (mime_type, created, modified, size) ONLY when the
  (created, modified, size) tuple changed under SQL row-comparison
  ``<>`` three-valued logic — so a row equal except NULL-vs-NULL (or
  even NULL-vs-value with the rest equal) is NOT rewritten, and a
  manually-corrected mime_type survives (comment src/db.rs:88-90).
  ``deleted`` is never reset by an update (src/db.rs:112-117).
- **Seen-set** (A9): the keys staged this scrape. The reference
  accumulates surrogate ids into a temp table (src/db.rs:38-46); here
  the staged snapshot itself is the seen-set, so no second table.
- **Soft delete** (A10): rows of this source whose key was not staged
  get ``deleted = scrape_time`` — with the reference's re-stamp quirk:
  no ``deleted IS NULL`` guard, already-deleted rows are re-stamped
  every scrape (src/db.rs:48-65).
- **One transaction per scrape** (A15): everything between BEGIN and
  COMMIT, starting with creating ``external_file`` if it is missing;
  any failure rolls back to the previous snapshot (src/fs.rs:103-116).

One sink shape: every batch is staged into the temp table
``staging_found`` by one statement in the reference's column-array
shape (src/db.rs:72-100) — one bound array per FILE_COLUMNS entry,
zipped into rows by ``unnest`` — and the whole snapshot is merged
once, at commit: one upsert of the staged rows, then one soft-delete
anti-join against the staged keys: two statements per scrape whatever
the batch count. The SQL is dialect-neutral (tested against DuckDB and
Postgres 15).

The snapshot reaches the sink as FILE_COLUMNS tuples from the fs
source — a list when the driver walked a small tree (no Spark job),
else an RDD of rows built in Python on the executors, collected with
no Spark SQL on the path — or as a DataFrame (the S3 source, whose
rows are made in the JVM).
Timestamps are stored as naive UTC, like ``deleted``: a DataFrame's
``created``/``modified`` are cast to ``timestamp_ntz`` before they
leave Spark (:func:`file_columns`), because a collected ``timestamp``
reads in the driver process's local time zone.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from itertools import islice
from typing import Any

from pyspark import RDD
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FILE_COLUMNS = (
    "external_source",
    "path",
    "filename",
    "mime_type",
    "created",
    "modified",
    "size",
)

I64_MAX = 2**63 - 1

TARGET_DDL = """
CREATE SEQUENCE IF NOT EXISTS external_file_seq;
CREATE TABLE IF NOT EXISTS external_file (
    file_id BIGINT PRIMARY KEY DEFAULT nextval('external_file_seq'),
    external_source TEXT NOT NULL,
    path TEXT NOT NULL,
    filename TEXT NOT NULL,
    mime_type TEXT,
    created TIMESTAMP,
    modified TIMESTAMP NOT NULL,
    size BIGINT,
    deleted TIMESTAMP,
    UNIQUE (external_source, path, filename)
);
"""

STAGING_DDL = """
CREATE TEMPORARY TABLE IF NOT EXISTS staging_found (
    external_source TEXT NOT NULL,
    path TEXT NOT NULL,
    filename TEXT NOT NULL,
    mime_type TEXT,
    created TIMESTAMP,
    modified TIMESTAMP NOT NULL,
    size BIGINT
);
"""

# The reference's UNNEST batch: both dialects zip a select's unnests.
STAGE_SQL = """
INSERT INTO staging_found
SELECT unnest(CAST(? AS TEXT[])), unnest(CAST(? AS TEXT[])),
       unnest(CAST(? AS TEXT[])), unnest(CAST(? AS TEXT[])),
       unnest(CAST(? AS TIMESTAMP[])), unnest(CAST(? AS TIMESTAMP[])),
       unnest(CAST(? AS BIGINT[]))
"""

# A8 upsert, once per scrape, of every staged row. A key is staged at
# most once per scrape (ScrapeSession); one staged twice makes both
# dialects reject the statement (a key hitting ON CONFLICT twice in one
# command), which rolls the scrape back. The WHERE uses
# row-comparison `<>` (three-valued with NULLs) exactly like the
# reference (src/db.rs:112-117). Deliberately NO RETURNING: the
# reference pipes RETURNING into its seen-set (src/db.rs:118), but
# DuckDB's upsert RETURNING emits a phantom row (with a freshly-drawn,
# never-stored sequence id) even when the conflict-update predicate is
# false — and every staged key is seen anyway, inserted, updated or
# no-op, so SOFT_DELETE_SQL reads the staged keys instead (semantically
# identical; the reference's two-branch construction is preserved as
# the oracle-checked `union_seen` query for parity).
UPSERT_SQL = """
INSERT INTO external_file
    (external_source, path, filename, mime_type, created, modified, size)
SELECT external_source, path, filename, mime_type, created, modified, size
FROM staging_found
ON CONFLICT (external_source, path, filename) DO UPDATE
SET mime_type = EXCLUDED.mime_type,
    created   = EXCLUDED.created,
    modified  = EXCLUDED.modified,
    size      = EXCLUDED.size
WHERE (external_file.created  <> EXCLUDED.created)
   OR (external_file.modified <> EXCLUDED.modified)
   OR (external_file.size     <> EXCLUDED.size)
"""
# ^ The reference writes this as a row comparison
#   `(created, modified, size) <> (EXCLUDED...)` (src/db.rs:112-117);
#   in Postgres that row `<>` expands to exactly the pairwise ORs
#   above (three-valued: a NULL pair contributes UNKNOWN, so e.g.
#   size 1 -> NULL with the rest equal does NOT fire the update).
#   DuckDB's row comparison instead treats NULLs as comparable, which
#   WOULD fire it — spelling the ORs out keeps the reference's
#   semantics identical across both dialects (caught by the
#   hypothesis model test, tests/test_merge_model.py).

# A10 soft delete with the re-stamp quirk (no `deleted IS NULL` guard):
# an anti-join on the key against the staged snapshot, the seen-set.
SOFT_DELETE_SQL = """
UPDATE external_file SET deleted = ?
WHERE external_source = ?
  AND NOT EXISTS (
      SELECT 1 FROM staging_found s
      WHERE s.external_source = external_file.external_source
        AND s.path = external_file.path
        AND s.filename = external_file.filename)
"""


def file_columns(found: DataFrame) -> DataFrame:
    """``found`` as FILE_COLUMNS, ``created``/``modified`` cast to
    ``timestamp_ntz``: the cast reads a ``timestamp`` in the session
    time zone (UTC), so the values leave Spark as naive UTC whatever
    the driver process's time zone."""
    return found.select(*(
        F.col(c).cast("timestamp_ntz") if c in ("created", "modified") else c
        for c in FILE_COLUMNS
    ))


def create_target(con: Any) -> None:
    """Run TARGET_DDL on ``con``; the caller commits."""
    for stmt in filter(str.strip, TARGET_DDL.split(";")):
        con.execute(stmt)


def clamp_size(size: int | None) -> int | None:
    """u64 -> i64 overflow becomes NULL, not an error (src/db.rs:85)."""
    if size is None or size > I64_MAX or size < -(2**63):
        return None
    return size


class ScrapeSession:
    """One open scrape == one DB transaction (A15).

    ``add_rows`` stages one batch of found files (the reference's
    per-batch record_files round-trip, src/db.rs:67-136, minus its
    merge); ``finalize`` merges everything staged — upsert, then the
    soft-delete anti-join — and commits; any error (or ``abort``)
    rolls back the whole snapshot: many batches, still exactly one
    visible snapshot transition.

    A scrape stages each key (source, path, filename) at most once:
    the fs walk is one pass, and S3 keys are unique and split
    injectively at their last '/'. A key staged twice fails the
    finalize upsert, and the scrape rolls back.

    The transaction creates ``external_file`` if it is missing
    (TARGET_DDL right after BEGIN), so a scrape needs one connection.

    ``paramstyle``: SQL here is written qmark-style; "format" rewrites
    placeholders to %s for psycopg.
    """

    def __init__(
        self, con: Any, external_source: str, scrape_time,
        paramstyle: str = "qmark",
    ):
        self.con = con
        self.external_source = external_source
        self.scrape_time = scrape_time
        self._ph = "?" if paramstyle == "qmark" else "%s"
        con.execute("BEGIN")
        create_target(con)
        con.execute(STAGING_DDL)
        con.execute("DELETE FROM staging_found")

    def _sql(self, sql: str) -> str:
        return sql if self._ph == "?" else sql.replace("?", "%s")

    def add_rows(self, rows: Iterable[tuple]) -> None:
        """Stage one batch with one STAGE_SQL statement, one list per
        column."""
        batch = [(*r[:6], clamp_size(r[6])) for r in rows]
        if batch:
            self.con.execute(
                self._sql(STAGE_SQL), [list(c) for c in zip(*batch)]
            )

    def finalize(self) -> None:
        """Merge the staged snapshot and commit."""
        self.con.execute(UPSERT_SQL)
        self.con.execute(
            self._sql(SOFT_DELETE_SQL),
            (self.scrape_time, self.external_source),
        )
        self.con.commit()

    def abort(self) -> None:
        self.con.rollback()


class MergeSink:
    """Dialect-neutral DB-API implementation of the snapshot merge.

    ``connect`` returns a DB-API connection (duckdb / psycopg / ...).
    One scrape == one ``sync_snapshot`` call == one transaction.
    """

    def __init__(
        self,
        connect: Callable[[], Any],
        batch_size: int = 1000,
        paramstyle: str = "qmark",
    ):
        self._connect = connect
        self.batch_size = batch_size
        self.paramstyle = paramstyle

    def ensure_target(self) -> None:
        """Create an empty target now (a scrape's transaction does too)."""
        con = self._connect()
        try:
            create_target(con)
            con.commit()
        finally:
            con.close()

    def open_scrape(self, external_source: str, scrape_time) -> ScrapeSession:
        """Open an incremental scrape (caller owns finalize/abort and
        the connection's lifetime)."""
        return ScrapeSession(
            self._connect(), external_source, scrape_time,
            paramstyle=self.paramstyle,
        )

    @contextmanager
    def transaction(
        self, external_source: str, scrape_time
    ) -> Iterator[ScrapeSession]:
        """An open scrape, finalized if the block completes and aborted
        if it raises; its connection is closed either way."""
        session = self.open_scrape(external_source, scrape_time)
        try:
            yield session
            session.finalize()
        except Exception:
            session.abort()
            raise
        finally:
            session.con.close()

    # -- public API --------------------------------------------------------

    def sync_rows(
        self,
        rows: Iterable[tuple],
        external_source: str,
        scrape_time,
    ) -> None:
        """Merge an iterable of FILE_COLUMNS tuples as one snapshot."""
        with self.transaction(external_source, scrape_time) as session:
            it = iter(rows)
            while batch := list(islice(it, self.batch_size)):
                session.add_rows(batch)

    def sync_snapshot(
        self,
        found: DataFrame | RDD | list[tuple],
        external_source: str,
        scrape_time,
    ) -> None:
        """Merge a snapshot: a list or an RDD of
        FILE_COLUMNS tuples with naive-UTC timestamps, or a DataFrame
        with those columns.

        A list is merged as it is, with no Spark job. An RDD or a
        DataFrame is fetched by one ``collect``, a single Spark job
        over all partitions in parallel (a ``toLocalIterator`` pull
        would run one job per partition, serially), before the
        transaction opens. The rows then go through :meth:`sync_rows`
        batching. The whole snapshot is held on the driver.
        """
        if isinstance(found, DataFrame):
            found = file_columns(found)
        rows = found if isinstance(found, list) else found.collect()
        self.sync_rows(rows, external_source, scrape_time)
