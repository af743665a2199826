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
- **Seen-set** (A9): surrogate ids of every file observed this scrape,
  accumulated per batch into a temp table (src/db.rs:38-46) as
  (changed-or-new RETURNING) UNION (join on source/filename/path/size,
  src/db.rs:101-104).
- **Soft delete** (A10): rows of this source not in the seen-set get
  ``deleted = scrape_time`` — with the reference's re-stamp quirk:
  no ``deleted IS NULL`` guard, already-deleted rows are re-stamped
  every scrape (src/db.rs:48-65).
- **One transaction per scrape** (A15): everything between BEGIN and
  COMMIT; any failure rolls back to the previous snapshot
  (src/fs.rs:103-116).

Scale design: the per-batch DB round-trip (the reference ships <=200
rows as array params) becomes either (a) driver-batched staging over
one ``df.collect()`` — a single Spark job that fetches every partition
in parallel, holding the whole snapshot on the driver; each batch is
staged by one multi-row ``INSERT ... VALUES (...), (...)`` (split to
stay under Postgres's bind-parameter limit), not row-at-a-time; the
default, for snapshots that fit there — or (b) executor-parallel
staging *outside* the transaction (``sync_snapshot_parallel``),
followed by the same single-transaction merge, for snapshots too large
for the driver; staging is truncated per scrape so a partial stage is
retry-safe and the visible table still moves atomically between
snapshots. The DB-side SQL is dialect-neutral (tested against DuckDB;
targets Postgres).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame

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

#: Rows per staging INSERT: Postgres caps a statement at 65535 bind
#: parameters, and each staged row binds one per FILE_COLUMNS entry.
STAGE_ROWS_PER_STATEMENT = 65535 // len(FILE_COLUMNS)
_STAGE_ROW = "(" + ", ".join("?" * len(FILE_COLUMNS)) + ")"

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

# No PRIMARY KEY on the seen-set scratch table: DuckDB's ART index has
# a documented same-transaction delete-then-reinsert false-positive
# ("duplicate key") — dedup is done logically in SEEN_SQL instead.
SEEN_DDL = """
CREATE TEMPORARY TABLE IF NOT EXISTS seen_external_file (
    file_id BIGINT
);
"""

# A8 upsert. The WHERE uses row-comparison `<>` (three-valued with
# NULLs) exactly like the reference (src/db.rs:112-117). Deliberately
# NO RETURNING: the reference pipes RETURNING into its seen-set
# (src/db.rs:118), but DuckDB's upsert RETURNING emits a phantom row
# (with a freshly-drawn, never-stored sequence id) even when the
# conflict-update predicate is false — so the seen-set here is instead
# built by SEEN_SQL's key join, which covers inserted, updated AND
# no-op rows in one statement (semantically identical; the reference's
# two-branch construction is preserved as the oracle-checked
# `union_seen` query for parity).
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

# A9 seen-set: every staged key now exists in the target; record its id
# once (NOT IN replaces the PK the scratch table no longer carries).
SEEN_SQL = """
INSERT INTO seen_external_file (file_id)
SELECT t.file_id
FROM external_file t
JOIN staging_found s
  ON t.external_source = s.external_source
 AND t.filename = s.filename
 AND t.path = s.path
WHERE t.file_id NOT IN (SELECT file_id FROM seen_external_file)
"""

# A10 soft delete with the re-stamp quirk (no `deleted IS NULL` guard).
SOFT_DELETE_SQL = """
UPDATE external_file SET deleted = ?
WHERE external_source = ?
  AND NOT EXISTS (
      SELECT 1 FROM seen_external_file seen
      WHERE external_file.file_id = seen.file_id)
"""


def clamp_size(size: int | None) -> int | None:
    """u64 -> i64 overflow becomes NULL, not an error (src/db.rs:85)."""
    if size is None or size > I64_MAX or size < -(2**63):
        return None
    return size


class ScrapeSession:
    """One open scrape == one DB transaction (A15).

    Batches of found files are merged incrementally (``add_rows`` per
    micro-batch — the reference's per-batch record_files round-trip,
    src/db.rs:67-136); ``finalize`` runs the soft-delete anti-join and
    commits; any error (or ``abort``) rolls back the whole snapshot.
    This is the contract Structured Streaming's foreachBatch needs:
    many batches, still exactly one visible snapshot transition.

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
        con.execute(STAGING_DDL)
        con.execute(SEEN_DDL)
        con.execute("DELETE FROM staging_found")
        con.execute("DELETE FROM seen_external_file")

    def _sql(self, sql: str) -> str:
        return sql if self._ph == "?" else sql.replace("?", "%s")

    def add_rows(self, rows: Iterable[tuple]) -> None:
        """Merge one batch: stage it with one multi-row INSERT per
        STAGE_ROWS_PER_STATEMENT rows, then upsert and record seen."""
        batch = [(*r[:6], clamp_size(r[6])) for r in rows]
        if not batch:
            return
        for i in range(0, len(batch), STAGE_ROWS_PER_STATEMENT):
            chunk = batch[i : i + STAGE_ROWS_PER_STATEMENT]
            self.con.execute(
                self._sql(
                    "INSERT INTO staging_found VALUES "
                    + ", ".join([_STAGE_ROW] * len(chunk))
                ),
                [v for r in chunk for v in r],
            )
        self.con.execute(UPSERT_SQL)
        self.con.execute(SEEN_SQL)
        self.con.execute("DELETE FROM staging_found")

    def finalize(self) -> None:
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
        con = self._connect()
        try:
            for stmt in TARGET_DDL.split(";"):
                if stmt.strip():
                    con.execute(stmt)
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

    # -- public API --------------------------------------------------------

    def sync_rows(
        self,
        rows: Iterable[tuple],
        external_source: str,
        scrape_time,
    ) -> None:
        """Merge an iterable of FILE_COLUMNS tuples as one snapshot."""
        session = self.open_scrape(external_source, scrape_time)
        try:
            batch: list[tuple] = []
            for row in rows:
                batch.append(row)
                if len(batch) >= self.batch_size:
                    session.add_rows(batch)
                    batch = []
            if batch:
                session.add_rows(batch)
            session.finalize()
        except Exception:
            session.abort()
            raise
        finally:
            session.con.close()

    def sync_snapshot(
        self, found: DataFrame, external_source: str, scrape_time
    ) -> None:
        """Merge a snapshot DataFrame (driver-batched path).

        One ``collect`` fetches the snapshot in a single Spark job, all
        partitions in parallel (a ``toLocalIterator`` pull would run one
        job per partition, serially), before the transaction opens; the
        rows then go through :meth:`sync_rows` batching. The whole
        snapshot is held on the driver: for snapshots too large for it
        use :meth:`sync_snapshot_parallel`.
        """
        rows = found.select(*FILE_COLUMNS).collect()
        self.sync_rows(rows, external_source, scrape_time)

    def sync_snapshot_parallel(
        self,
        found: DataFrame,
        external_source: str,
        scrape_time,
        staging_dir: str | None = None,
    ) -> None:
        """Executor-parallel staging path (the 100 TB shape).

        Stage 1 — outside the transaction: every executor writes its
        partitions of the snapshot to a staging location in parallel
        (parquet here; for a Postgres target this is the JDBC append
        into an UNLOGGED staging table). A partial stage is harmless:
        it is replaced wholesale on retry and invisible to readers.

        Stage 2 — ONE server-side transaction ingests the staged
        snapshot (DuckDB reads the parquet directly; Postgres would
        COPY) and runs the same upsert/seen/soft-delete statements —
        so the visible table still moves atomically between snapshots
        (A15) while the heavy row shipping is fully parallel, unlike
        the reference's 2-connection sink (src/db.rs:28).
        """
        import shutil
        import tempfile

        own_dir = staging_dir is None
        staging_dir = staging_dir or tempfile.mkdtemp(prefix="fss_stage_")
        try:
            (
                found.select(*FILE_COLUMNS)
                .write.mode("overwrite")
                .parquet(staging_dir)
            )
            session = self.open_scrape(external_source, scrape_time)
            try:
                session.con.execute(
                    "INSERT INTO staging_found "
                    "SELECT external_source, path, filename, mime_type, "
                    "       created, modified, "
                    "       CASE WHEN size > 9223372036854775807 THEN NULL "
                    "            ELSE CAST(size AS BIGINT) END "
                    "FROM read_parquet('{}/*.parquet')".format(
                        staging_dir.replace("'", "''")
                    )
                )
                session.con.execute(UPSERT_SQL)
                session.con.execute(SEEN_SQL)
                session.con.execute("DELETE FROM staging_found")
                session.finalize()
            except Exception:
                session.abort()
                raise
            finally:
                session.con.close()
        finally:
            if own_dir:
                shutil.rmtree(staging_dir, ignore_errors=True)
