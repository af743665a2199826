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

One sink shape: the snapshot reaches the sink as Arrow record batches
of FILE_COLUMNS (``FILE_ARROW_SCHEMA``) — rows are turned into
columns once, where they are made, as the reference does at its sink
(src/db.rs:72-100) — and each batch is staged into the temp table
``staging_found`` by one native bulk statement: DuckDB runs one
``INSERT … SELECT`` that scans the batch in place, Postgres one
``COPY … FROM STDIN`` (text format, :func:`copy_text`). The whole
snapshot is merged once, at commit: one upsert of the staged rows, then
one soft-delete anti-join against the staged keys: two statements per
scrape whatever the batch count. The merge SQL is dialect-neutral
(tested against DuckDB and Postgres 15).

The fs source hands over the batches themselves when the driver walked
a small tree (no Spark job), else an RDD of Arrow IPC streams, one per
shard, built in Python on the executors and collected with no Spark
SQL on the path; the S3 source hands over a DataFrame, fetched with
``toArrow``. FILE_COLUMNS tuples (``sync_rows``, ``add_rows``) go
through the same batch builder, :func:`file_batch`.
Timestamps are stored as naive UTC, like ``deleted``: a DataFrame's
``created``/``modified`` are cast to ``timestamp_ntz`` before they
leave Spark (:func:`file_columns`), because a ``timestamp`` reads in
the driver process's local time zone.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager
from itertools import islice
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
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

#: FILE_COLUMNS as Arrow types: timestamps are naive UTC microseconds.
FILE_ARROW_SCHEMA = pa.schema([
    ("external_source", pa.string()),
    ("path", pa.string()),
    ("filename", pa.string()),
    ("mime_type", pa.string()),
    ("created", pa.timestamp("us")),
    ("modified", pa.timestamp("us")),
    ("size", pa.int64()),
])

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

# DuckDB stages a batch by scanning the Arrow table bound to the local
# name `staged_batch` (a replacement scan) in place.
INSERT_ARROW_SQL = "INSERT INTO staging_found SELECT * FROM staged_batch"

# Postgres stages a batch by COPY in text format (copy_text).
COPY_SQL = "COPY staging_found FROM STDIN"

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


def file_batch(columns: Sequence[Sequence]) -> pa.RecordBatch:
    """One record batch of ``FILE_ARROW_SCHEMA`` from seven value lists
    in FILE_COLUMNS order. Timestamps are naive UTC datetimes or integer
    µs since the epoch; a size outside i64 becomes NULL (clamp_size)."""
    *head, sizes = columns
    arrays = [
        pa.array(values, field.type)
        for values, field in zip(head, FILE_ARROW_SCHEMA)
    ]
    arrays.append(pa.array([clamp_size(s) for s in sizes], pa.int64()))
    return pa.RecordBatch.from_arrays(arrays, schema=FILE_ARROW_SCHEMA)


#: Postgres text-format COPY escapes; the backslash goes first.
_COPY_ESCAPES = (("\\", "\\\\"), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"))


def copy_text(batch: pa.RecordBatch) -> str:
    """``batch`` as the input of a text-format ``COPY … FROM STDIN``:
    one line per row, tab-separated, NULL as ``\\N``, and a backslash,
    newline, carriage return or tab inside a text value escaped. No
    data line can then be ``\\.``, which ends psql's inline COPY data,
    and ``''`` stays apart from NULL and from the text ``\\N``. Built
    with Arrow compute kernels, not per value in Python."""
    columns = []
    for column in batch.columns:
        if pa.types.is_string(column.type):
            for char, escaped in _COPY_ESCAPES:
                column = pc.replace_substring(column, char, escaped)
        else:
            column = column.cast(pa.string())
        columns.append(column)
    lines = pc.binary_join_element_wise(
        *columns, "\t", null_handling="replace", null_replacement="\\N"
    )
    one_list = pa.ListArray.from_arrays([0, len(lines)], lines)
    return pc.binary_join(one_list, "\n")[0].as_py() + "\n"


def _stage_duckdb(con: Any, batch: pa.RecordBatch) -> None:
    staged_batch = pa.Table.from_batches([batch])  # noqa: F841 (INSERT_ARROW_SQL)
    con.execute(INSERT_ARROW_SQL)


def _stage_postgres(con: Any, batch: pa.RecordBatch) -> None:
    data = copy_text(batch)
    copy_in = getattr(con, "copy_in", None)
    if copy_in is not None:  # the psql pipe (sinks/psql_shim.py)
        copy_in(COPY_SQL, data)
        return
    with con.cursor() as cur, cur.copy(COPY_SQL) as copy:  # psycopg
        copy.write(data)


class ScrapeSession:
    """One open scrape == one DB transaction (A15).

    ``add_batch`` stages one record batch of found files with one
    statement (the reference's per-batch record_files round-trip,
    src/db.rs:67-136, minus its merge), and ``add_rows`` stages
    FILE_COLUMNS tuples through it; ``finalize`` merges everything
    staged — upsert, then the soft-delete anti-join — and commits; any
    error (or ``abort``) rolls back the whole snapshot: many batches,
    still exactly one visible snapshot transition.

    A scrape stages each key (source, path, filename) at most once:
    the fs walk is one pass, and S3 keys are unique and split
    injectively at their last '/'. A key staged twice fails the
    finalize upsert, and the scrape rolls back.

    The transaction creates ``external_file`` if it is missing
    (TARGET_DDL right after BEGIN), so a scrape needs one connection.

    ``paramstyle``: SQL here is written qmark-style; "format" rewrites
    placeholders to %s for psycopg. A connection that can ``register``
    Arrow data is DuckDB; any other is Postgres (the psql pipe or
    psycopg).
    """

    def __init__(
        self, con: Any, external_source: str, scrape_time,
        paramstyle: str = "qmark",
    ):
        self.con = con
        self.external_source = external_source
        self.scrape_time = scrape_time
        self._ph = "?" if paramstyle == "qmark" else "%s"
        self._stage = (
            _stage_duckdb if hasattr(con, "register") else _stage_postgres
        )
        con.execute("BEGIN")
        create_target(con)
        con.execute(STAGING_DDL)
        con.execute("DELETE FROM staging_found")

    def _sql(self, sql: str) -> str:
        return sql if self._ph == "?" else sql.replace("?", "%s")

    def add_batch(self, batch: pa.RecordBatch) -> None:
        """Stage one FILE_ARROW_SCHEMA batch with one statement."""
        if batch.num_rows:
            self._stage(self.con, batch)

    def add_rows(self, rows: Iterable[tuple]) -> None:
        """Stage FILE_COLUMNS tuples as one batch."""
        columns = list(zip(*rows))
        if columns:
            self.add_batch(file_batch(columns))

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
        found: DataFrame | RDD | list[pa.RecordBatch],
        external_source: str,
        scrape_time,
    ) -> None:
        """Merge a snapshot: a list of FILE_ARROW_SCHEMA record batches,
        an RDD of Arrow IPC streams of them, or a DataFrame with the
        FILE_COLUMNS columns.

        A list is merged as it is, with no Spark job. An RDD is fetched
        by one ``collect`` and a DataFrame by one ``toArrow``, a single
        Spark job over all partitions in parallel (a
        ``toLocalIterator`` pull would run one job per partition,
        serially), before the transaction opens. The whole snapshot is
        held on the driver, as Arrow columns; each batch is then staged
        with one statement.
        """
        if isinstance(found, DataFrame):
            table = file_columns(found).toArrow().cast(FILE_ARROW_SCHEMA)
            batches = table.to_batches()
        elif isinstance(found, RDD):
            streams = found.collect()
            batches = [b for ipc in streams for b in pa.ipc.open_stream(ipc)]
        else:
            batches = found
        with self.transaction(external_source, scrape_time) as session:
            for batch in batches:
                session.add_batch(batch)
