"""Merge-sink semantics against REAL Postgres (the reference's actual
target database) — same scenario matrix as the DuckDB suite, through
the psql-pipe harness. Skipped when Postgres binaries are absent."""

from __future__ import annotations

from datetime import datetime

import pytest

from file_scraper_spark.sinks.merge_sink import MergeSink
from tests.pg_harness import PgCluster, PsqlError, pg_available

pytestmark = pytest.mark.skipif(
    not pg_available, reason="postgres binaries not available"
)

T0 = datetime(2024, 1, 1, 12, 0, 0)
T1 = datetime(2024, 1, 2, 12, 0, 0)
T2 = datetime(2024, 1, 3, 12, 0, 0)
SRC = "host:/data"


def row(path="d", filename="f.txt", mime="text/plain", created=T0,
        modified=T0, size=10):
    return (SRC, path, filename, mime, created, modified, size)


@pytest.fixture(scope="module")
def cluster():
    import shutil
    import tempfile
    from pathlib import Path

    # under /tmp directly: pytest's tmp dirs sit below a 0700 root dir
    # the postgres user cannot traverse
    base = Path(tempfile.mkdtemp(prefix="pgfss_", dir="/tmp"))
    c = PgCluster(base)
    c.start()
    yield c
    c.stop()
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def db(cluster):
    sink = MergeSink(cluster.connect, paramstyle="format")
    admin = cluster.connect()
    admin.execute("DROP TABLE IF EXISTS external_file")
    admin.execute("DROP SEQUENCE IF EXISTS external_file_seq")
    admin.commit()
    admin.close()
    sink.ensure_target()
    return sink, cluster


@pytest.fixture()
def empty_db(cluster, monkeypatch):
    """A database without external_file, and a sink whose
    ensure_target fails if called."""
    from tests.test_merge_sink import _no_ensure_target

    admin = cluster.connect()
    admin.execute("DROP TABLE IF EXISTS external_file")
    admin.execute("DROP SEQUENCE IF EXISTS external_file_seq")
    admin.commit()
    admin.close()
    monkeypatch.setattr(MergeSink, "ensure_target", _no_ensure_target)
    return MergeSink(cluster.connect, paramstyle="format"), cluster


def fetch(cluster):
    con = cluster.connect()
    try:
        con.execute(
            "SELECT path, filename, mime_type, size::text, "
            "deleted::text FROM external_file ORDER BY path, filename"
        )
        return con.fetchall()
    finally:
        con.close()


def test_insert_update_noop_delete_pg(db):
    sink, cluster = db
    sink.sync_rows([row(filename="a.txt"), row(filename="b.txt")], SRC, T1)
    assert len(fetch(cluster)) == 2
    sink.sync_rows(
        [row(filename="a.txt", modified=T1, size=11), row(filename="c.txt")],
        SRC, T2,
    )
    rows = {r[1]: r for r in fetch(cluster)}
    assert rows["a.txt"][3] == "11" and rows["a.txt"][4] is None
    assert rows["b.txt"][4] is not None  # soft-deleted
    assert rows["c.txt"][4] is None  # inserted


def test_noop_preserves_manual_mime_pg(db):
    sink, cluster = db
    sink.sync_rows([row(mime="application/octet-stream")], SRC, T1)
    con = cluster.connect()
    con.execute("UPDATE external_file SET mime_type = 'text/x-corrected'")
    con.commit()
    con.close()
    sink.sync_rows([row(mime="application/octet-stream")], SRC, T2)
    assert fetch(cluster)[0][2] == "text/x-corrected"
    sink.sync_rows([row(mime="application/octet-stream", size=99)], SRC, T2)
    assert fetch(cluster)[0][2] == "application/octet-stream"


def test_three_valued_null_predicate_pg(db):
    """The exact NULL cases the hypothesis model pinned on DuckDB must
    hold identically on real Postgres: size value<->NULL transitions
    with the rest equal do NOT fire the update."""
    sink, cluster = db
    sink.sync_rows([row(created=None, size=1)], SRC, T1)
    sink.sync_rows([row(created=None, size=None, mime="wrong/guess")], SRC, T2)
    r = fetch(cluster)[0]
    assert r[3] == "1" and r[2] == "text/plain"  # no update fired
    sink.sync_rows([row(created=None, size=7)], SRC, T2)  # 1 -> 7 DOES fire
    assert fetch(cluster)[0][3] == "7"


def test_deleted_restamped_pg(db):
    sink, cluster = db
    sink.sync_rows([row(filename="gone.txt")], SRC, T0)
    sink.sync_rows([], SRC, T1)
    first = fetch(cluster)[0][4]
    sink.sync_rows([], SRC, T2)
    second = fetch(cluster)[0][4]
    assert first is not None and second is not None and first != second


def test_key_staged_twice_fails_the_scrape_pg(db):
    """Twin of the DuckDB case: Postgres rejects a key hitting ON
    CONFLICT twice in one command, new key or existing, and the
    previous snapshot survives."""
    sink, cluster = db
    sink.sync_rows([row(filename="a.txt"), row(filename="b.txt")], SRC, T1)
    before = fetch(cluster)
    for name in ("a.txt", "c.txt"):
        with pytest.raises(PsqlError, match="cannot affect row a second time"):
            with sink.transaction(SRC, T2) as session:
                session.add_rows([row(filename=name, size=11)])
                session.add_rows([row(filename=name, size=12)])
        assert fetch(cluster) == before


def test_shim_reads_back_status_like_text_pg(cluster):
    """Fetched text that looks like psql's status output (a leading
    space, a command tag) or is empty comes back as it is."""
    values = ["", " lead", "SET x", "INSERT 0 1"]
    con = cluster.connect()
    try:
        con.execute(
            "SELECT v FROM (VALUES (''), (' lead'), ('SET x'), "
            "('INSERT 0 1')) AS t(v)"
        )
        assert sorted(con.fetchall()) == [(v,) for v in sorted(values)]
    finally:
        con.close()


def test_shim_reads_back_error_like_text_pg(cluster):
    """A fetched value that starts like a psql error line, at the start
    of a row or of a line inside a value, comes back as it is; a real
    error still raises."""
    con = cluster.connect()
    try:
        con.execute("SELECT 'ERROR: not an error'")
        assert con.fetchall() == [("ERROR: not an error",)]
        con.execute("SELECT E'a\\nERROR: b', 'FATAL: c'")
        assert con.fetchall() == [("a\nERROR: b", "FATAL: c")]
        with pytest.raises(PsqlError, match="division by zero"):
            con.execute("SELECT 1 / 0")
    finally:
        con.close()


def test_shim_reads_back_multiline_text_pg(cluster):
    """A fetched value holding a newline is one value of one row, and
    NULL, '' and the text ``\\.`` read back apart."""
    con = cluster.connect()
    try:
        con.execute("SELECT E'two\\nlines', 'x'")
        assert con.fetchall() == [("two\nlines", "x")]
        con.execute("SELECT NULL, '', E'\\\\.'")
        assert con.fetchall() == [(None, "", "\\.")]
    finally:
        con.close()


def test_cli_scrape_into_postgres(db, tmp_path):
    """Full reference parity: the CLI scrapes a filesystem tree into a
    real Postgres database addressed by a postgresql:// URL (psycopg
    absent -> the driverless psql fallback engages)."""
    import subprocess
    import sys

    sink, cluster = db
    tree = tmp_path / "t"
    tree.mkdir()
    (tree / "a.csv").write_text("1,2\n")
    (tree / "b.bin").write_text("x")
    r = subprocess.run(
        [sys.executable, "-m", "file_scraper_spark", str(tree),
         "--database", cluster.dsn],
        capture_output=True, text=True, timeout=240, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-500:]
    rows = {x[1]: x for x in fetch(cluster)}
    assert rows["a.csv"][2] == "text/csv"
    assert rows["b.bin"][2] is None  # unknown extension -> NULL mime
    # delete a file, re-scrape through the CLI -> soft delete lands
    (tree / "b.bin").unlink()
    r = subprocess.run(
        [sys.executable, "-m", "file_scraper_spark", str(tree),
         "--database", cluster.dsn],
        capture_output=True, text=True, timeout=240, cwd="/root/repo",
    )
    assert r.returncode == 0
    rows = {x[1]: x for x in fetch(cluster)}
    assert rows["b.bin"][4] is not None and rows["a.csv"][4] is None


def test_rollback_on_failure_pg(db):
    """A failure inside the first batch, or after a batch was staged
    (``batch_size=1``), leaves the previous snapshot intact."""
    from tests.test_merge_sink import CountingConnection

    sink, cluster = db
    sink.sync_rows([row(filename="a.txt")], SRC, T0)

    def bad_rows():
        yield row(filename="b.txt")
        raise RuntimeError("source died")

    for batch_size, staged in ((1000, 0), (1, 1)):
        counting = CountingConnection(cluster.connect())
        with pytest.raises(RuntimeError):
            MergeSink(
                lambda: counting, batch_size=batch_size, paramstyle="format"
            ).sync_rows(bad_rows(), SRC, T1)
        assert len(counting.staged) == staged
        rows = fetch(cluster)
        assert [r[1] for r in rows] == ["a.txt"]
        assert rows[0][4] is None


def fetch_exact(cluster):
    """Every FILE_COLUMNS value as Python would write it: text columns
    read as hex of their bytes (a newline would split the shim's
    line-oriented output), timestamps and sizes as text."""
    text = "encode(textsend({}), 'hex')".format
    con = cluster.connect()
    try:
        con.execute(
            f"SELECT {text('external_source')}, {text('path')}, "
            f"{text('filename')}, {text('mime_type')}, created::text, "
            "modified::text, size::text FROM external_file"
        )
        rows = con.fetchall()
    finally:
        con.close()
    return sorted(
        tuple(
            bytes.fromhex(v).decode() if v is not None and i < 4 else v
            for i, v in enumerate(r)
        )
        for r in rows
    )


def as_text(rows):
    return sorted(
        tuple(None if v is None else str(v) if i >= 4 else v
              for i, v in enumerate(r))
        for r in rows
    )


def test_first_scrape_creates_target_pg(empty_db):
    """A first scrape into a database without external_file creates
    it inside its own transaction; no ensure_target call."""
    sink, cluster = empty_db
    sink.sync_rows([row(filename="a.txt"), row(filename="b.txt")], SRC, T1)
    assert [r[1] for r in fetch(cluster)] == ["a.txt", "b.txt"]


def test_edge_values_round_trip_pg(empty_db):
    """The DuckDB round-trip cases on Postgres 15: all-NULL columns,
    quotes, newlines, %20, placeholders and non-ASCII in names, COPY's
    escapes and end marker, '' next to NULL, leading spaces, and a size
    of 2**63 stored as NULL, staged by text-format COPY."""
    from tests.test_merge_sink import NULL_ROWS, ODD_ROWS, expected

    sink, cluster = empty_db
    sink.sync_rows(NULL_ROWS, "nulls", T1)
    sink.sync_rows(ODD_ROWS, "odd", T1)
    assert fetch_exact(cluster) == as_text(expected(NULL_ROWS + ODD_ROWS))


def test_large_batch_one_statement_pg(empty_db):
    """A batch above the old 9362-row split is staged by one COPY on
    Postgres too, one line per row, and merges exactly."""
    from tests.test_merge_sink import CountingConnection

    sink, cluster = empty_db
    n = 9362 + 10
    sink.sync_rows([row(filename=f"f{i:05}") for i in range(n)], SRC, T1)

    counting = CountingConnection(cluster.connect())
    MergeSink(
        lambda: counting, batch_size=n + 20, paramstyle="format"
    ).sync_rows(
        [row(filename=f"f{i:05}", size=11 if i % 1000 == 0 else 10)
         for i in range(5, n + 20)],
        SRC, T2,
    )
    assert [data.count("\n") for data in counting.staged] == [n + 15]
    rows = {r[1]: r for r in fetch(cluster)}
    assert len(rows) == n + 20
    for i in range(n + 20):
        r = rows[f"f{i:05}"]
        assert (r[4] is not None) == (i < 5), r
        assert r[3] == ("11" if i % 1000 == 0 and i >= 5 else "10"), r
