"""Integration tests of the transactional merge sink with DuckDB as
the database — covering every edge row listed in FIXTURES.md §4 and
the reference quirks (SURVEY §7 hard-parts list)."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pytest

from file_scraper_spark.sinks.merge_sink import (
    FILE_COLUMNS,
    INSERT_ARROW_SQL,
    MergeSink,
    clamp_size,
    file_batch,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)
T1 = datetime(2024, 1, 2, 12, 0, 0)
T2 = datetime(2024, 1, 3, 12, 0, 0)
SRC = "host:/data"


def row(path="d", filename="f.txt", mime="text/plain", created=T0, modified=T0, size=10):
    return (SRC, path, filename, mime, created, modified, size)


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "sink.duckdb")

    def connect():
        return duckdb.connect(path)

    sink = MergeSink(connect)
    sink.ensure_target()
    return sink, connect


def fetch(connect, cols="external_source, path, filename, mime_type, created, modified, size, deleted"):
    con = connect()
    try:
        return con.execute(
            f"SELECT {cols} FROM external_file ORDER BY path, filename"
        ).fetchall()
    finally:
        con.close()


def test_insert_update_noop_delete(db):
    sink, connect = db
    # scrape 1: two files
    sink.sync_rows([row(filename="a.txt"), row(filename="b.txt")], SRC, T1)
    assert len(fetch(connect)) == 2
    assert all(r[7] is None for r in fetch(connect))  # nothing deleted

    # scrape 2: a.txt modified, b.txt gone, c.txt new
    sink.sync_rows(
        [row(filename="a.txt", modified=T1, size=11), row(filename="c.txt")],
        SRC,
        T2,
    )
    rows = {r[2]: r for r in fetch(connect)}
    assert rows["a.txt"][5] == T1 and rows["a.txt"][6] == 11  # updated
    assert rows["a.txt"][7] is None
    assert rows["b.txt"][7] == T2  # soft-deleted, not removed
    assert rows["c.txt"][7] is None  # inserted


def test_noop_preserves_manual_mime(db):
    # the A8 comment (src/db.rs:88-90): unchanged tuple -> mime not clobbered
    sink, connect = db
    sink.sync_rows([row(mime="application/octet-stream")], SRC, T1)
    con = connect()
    con.execute("UPDATE external_file SET mime_type = 'text/x-corrected'")
    con.commit()
    con.close()
    # same tuple, wrong mime guess again -> no update fires
    sink.sync_rows([row(mime="application/octet-stream")], SRC, T2)
    assert fetch(connect)[0][3] == "text/x-corrected"
    # changed tuple -> update fires and mime IS overwritten
    sink.sync_rows([row(mime="application/octet-stream", size=99)], SRC, T2)
    assert fetch(connect)[0][3] == "application/octet-stream"


def test_null_created_noop_not_rewritten(db):
    # S3 rows have created NULL (src/s3.rs:123); row-comparison `<>` is
    # NULL when created is NULL-vs-NULL and the rest match -> no update
    sink, connect = db
    sink.sync_rows([row(created=None)], SRC, T1)
    con = connect()
    con.execute("UPDATE external_file SET mime_type = 'manual/fix'")
    con.commit()
    con.close()
    sink.sync_rows([row(created=None)], SRC, T2)
    assert fetch(connect)[0][3] == "manual/fix"


def test_created_only_change_fires_update(db):
    """A8 change tuple includes `created` (src/db.rs:111-115): with the
    fs source now stat-enriching created (sources/fs.py), a file whose
    ctime moved but whose (modified, size) did not — e.g. chmod then
    touch -m back, or an in-place restore — must still be rewritten."""
    sink, connect = db
    sink.sync_rows([row(created=T0)], SRC, T1)
    con = connect()
    con.execute("UPDATE external_file SET mime_type = 'manual/fix'")
    con.commit()
    con.close()
    # created flips T0 -> T1, modified/size identical -> update fires
    # (and, per the reference, the update overwrites mime_type)
    sink.sync_rows([row(created=T1)], SRC, T2)
    got = fetch(connect)[0]
    assert got[4] == T1  # created updated
    assert got[3] == "text/plain"  # change-update clobbers manual mime
    assert got[7] is None  # still live


def test_deleted_restamped_every_scrape(db):
    # reference quirk (src/db.rs:48-65): no `deleted IS NULL` guard
    sink, connect = db
    sink.sync_rows([row(filename="gone.txt")], SRC, T0)
    sink.sync_rows([], SRC, T1)
    assert fetch(connect)[0][7] == T1
    sink.sync_rows([], SRC, T2)
    assert fetch(connect)[0][7] == T2  # re-stamped


def test_deleted_file_reappearing(db):
    sink, connect = db
    sink.sync_rows([row()], SRC, T0)
    sink.sync_rows([], SRC, T1)
    assert fetch(connect)[0][7] == T1
    # reappears unchanged: seen again (not re-stamped) but — reference
    # quirk — `deleted` is NOT reset by the no-op path
    sink.sync_rows([row()], SRC, T2)
    assert fetch(connect)[0][7] == T1


def test_size_overflow_null(db):
    # u64 -> i64 overflow becomes NULL, not an error (src/db.rs:85)
    sink, connect = db
    assert clamp_size(2**63) is None
    assert clamp_size(2**63 - 1) == 2**63 - 1
    columns = list(zip(row(size=2**63), row(size=2**63 - 1)))
    assert file_batch(columns).column("size").to_pylist() == [None, 2**63 - 1]
    sink.sync_rows([row(size=2**63)], SRC, T1)
    assert fetch(connect)[0][6] is None


def test_other_source_untouched(db):
    # soft delete is scoped to the scraped external_source (A10)
    sink, connect = db
    sink.sync_rows([row()], SRC, T0)
    sink.sync_rows([(f"other:/x", "d", "f.txt", None, T0, T0, 1)], "other:/x", T1)
    rows = {r[0]: r for r in fetch(connect)}
    assert rows[SRC][7] is None  # not deleted by the other source's scrape


def test_transaction_rollback_on_failure(db):
    """A15: any failure mid-scrape leaves the previous snapshot intact,
    whether it comes inside the first batch or after a batch was
    staged (``batch_size=1``)."""
    sink, connect = db
    sink.sync_rows([row(filename="a.txt")], SRC, T0)

    def bad_rows():
        yield row(filename="b.txt")
        raise RuntimeError("source died mid-walk")

    for batch_size, staged in ((1000, 0), (1, 1)):
        counting = CountingConnection(connect())
        with pytest.raises(RuntimeError):
            MergeSink(lambda: counting, batch_size=batch_size).sync_rows(
                bad_rows(), SRC, T1
            )
        assert len(counting.staged) == staged
        rows = fetch(connect)
        assert [r[2] for r in rows] == ["a.txt"]  # b.txt not committed
        assert rows[0][7] is None  # a.txt not soft-deleted by the failed scrape


def test_key_staged_twice_fails_the_scrape(db):
    """A scrape stages each key once; a key staged in two batches fails
    the finalize upsert, new key or existing, and the previous snapshot
    survives."""
    sink, connect = db
    sink.sync_rows([row(filename="a.txt"), row(filename="b.txt")], SRC, T1)
    before = fetch(connect)
    for name in ("a.txt", "c.txt"):
        with pytest.raises(duckdb.Error):
            with sink.transaction(SRC, T2) as session:
                session.add_rows([row(filename=name, size=11)])
                session.add_rows([row(filename=name, size=12)])
        assert fetch(connect) == before


def test_spark_dataframe_end_to_end(db, spark, sf_dir):
    # scrape the fixture dir with the real fs source -> sink -> DB
    from file_scraper_spark.sources.fs import scrape_fs

    sink, connect = db
    found = scrape_fs(spark, sf_dir, identifier="t")
    sink.sync_snapshot(found, "t", T1)
    rows = fetch(connect)
    assert len(rows) == 10
    assert all(r[3] == "application/vnd.apache.parquet" for r in rows)
    # second identical scrape: all no-ops, nothing deleted
    sink.sync_snapshot(found, "t", T2)
    assert all(r[7] is None for r in fetch(connect))
    assert fetch(connect) == rows


def test_rescrape_truncated_file_stays_live(db, spark, tmp_path):
    """A file truncated to 0 bytes between scrapes is still a file: its
    row is updated to size 0, never soft-deleted."""
    import os

    from file_scraper_spark.sources.fs import scrape_fs

    sink, connect = db
    tree = tmp_path / "tree"
    tree.mkdir()
    (tree / "keep.txt").write_bytes(b"k")
    (tree / "shrink.txt").write_bytes(b"s" * 10)
    sink.sync_snapshot(scrape_fs(spark, str(tree), identifier="t"), "t", T1)

    with open(tree / "shrink.txt", "wb"):
        pass
    os.utime(tree / "shrink.txt", ns=(1_800_000_000_000_000_000,) * 2)
    sink.sync_snapshot(scrape_fs(spark, str(tree), identifier="t"), "t", T2)
    rows = {r[2]: r for r in fetch(connect)}
    assert rows["shrink.txt"][6] == 0
    assert rows["shrink.txt"][5] == datetime(2027, 1, 15, 8, 0)
    assert rows["shrink.txt"][7] is None
    assert rows["keep.txt"][6] == 1 and rows["keep.txt"][7] is None


def test_sync_snapshot_fetches_in_one_job(db, spark):
    """The driver-batched fetch runs one Spark job however many
    partitions the snapshot has."""
    sink, connect = db
    rows = [row(filename=f"f{i}.txt") for i in range(20)]
    found = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        "external_source string, path string, filename string, "
        "mime_type string, created timestamp, modified timestamp, size long",
    )
    assert found.rdd.getNumPartitions() >= 4
    sc = spark.sparkContext
    sc.setJobGroup("sync_snapshot_jobs", "sync_snapshot_jobs")
    try:
        sink.sync_snapshot(found, SRC, T1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sync_snapshot_jobs")) == 1
    assert len(fetch(connect)) == 20


class CountingConnection:
    """A DB-API connection that records each statement staging a batch:
    DuckDB's INSERT INTO staging_found, or the data of a COPY through
    the psql pipe."""

    def __init__(self, con):
        self.con, self.staged = con, []

    def execute(self, sql, params=None):
        if sql.lstrip().startswith("INSERT INTO staging_found"):
            self.staged.append(sql)
        return self.con.execute(sql, params)

    def copy_in(self, sql, data):
        self.staged.append(data)
        return self.con.copy_in(sql, data)

    def __getattr__(self, name):
        return getattr(self.con, name)


def test_add_rows_stages_a_batch_in_one_statement(db):
    """Each batch is staged by exactly one statement, an INSERT that
    scans the Arrow batch — a batch of tuples through add_rows, and
    each record batch of a snapshot — and merged exactly: inserts,
    updates and soft deletes."""
    sink, connect = db
    n = 9362 + 10
    sink.sync_rows([row(filename=f"f{i}") for i in range(n)], SRC, T1)

    # second scrape: f0..f4 dropped, every 1000th file grown, 20 new
    batch = [
        row(filename=f"f{i}", size=11 if i % 1000 == 0 else 10)
        for i in range(5, n + 20)
    ]
    counting = CountingConnection(connect())
    session = MergeSink(lambda: counting).open_scrape(SRC, T2)
    session.add_rows(batch)
    session.finalize()
    counting.close()
    assert counting.staged == [INSERT_ARROW_SQL]

    rows = {r[2]: r for r in fetch(connect)}
    assert len(rows) == n + 20
    for i in range(n + 20):
        r = rows[f"f{i}"]
        assert r[7] == (T2 if i < 5 else None), r
        assert r[6] == (11 if i % 1000 == 0 and i >= 5 else 10), r

    # a snapshot of three record batches, one of them empty: two
    # statements, and the same table
    before = fetch(connect)
    columns = list(zip(*batch))
    batches = [
        file_batch([c[:100] for c in columns]),
        file_batch([c[100:100] for c in columns]),
        file_batch([c[100:] for c in columns]),
    ]
    counting = CountingConnection(connect())
    MergeSink(lambda: counting).sync_snapshot(batches, SRC, T2)
    assert counting.staged == [INSERT_ARROW_SQL] * 2
    assert fetch(connect) == before


def _tree(root, n=5):
    root.mkdir()
    for i in range(n):
        (root / f"f{i}.txt").write_text("x" * i)
    return str(root)


def _no_session():
    raise AssertionError("a driver-walked tree asked for a SparkSession")


def _no_ensure_target(self):
    raise AssertionError("ensure_target called")


def test_scrape_all_opens_one_connection(tmp_path):
    """A scrape of a driver-walked tree opens one sink connection: its
    transaction creates the target, with no separate setup connection."""
    from file_scraper_spark.pipeline import scrape_all

    path = str(tmp_path / "sink.duckdb")
    opened = []

    def connect():
        opened.append(path)
        return duckdb.connect(path)

    root = _tree(tmp_path / "tree")
    scrape_all(_no_session, [root], MergeSink(connect), identifier="t")
    assert len(opened) == 1
    scrape_all(_no_session, [root], MergeSink(connect), identifier="t")
    assert len(opened) == 2


def test_first_scrape_creates_the_target(tmp_path, monkeypatch):
    """A first scrape into an empty DuckDB file creates external_file
    itself, without an ensure_target call."""
    from file_scraper_spark.pipeline import scrape_all

    monkeypatch.setattr(MergeSink, "ensure_target", _no_ensure_target)
    path = str(tmp_path / "sink.duckdb")
    connect = lambda: duckdb.connect(path)
    scrape_all(
        _no_session, [_tree(tmp_path / "tree")], MergeSink(connect),
        identifier="t", scrape_time=T1,
    )
    got = fetch(connect, "filename, size, deleted")
    assert got == [(f"f{i}.txt", i, None) for i in range(5)]


#: Rows whose every nullable column is NULL, and names and sizes that a
#: literal or array encoding could mangle (2**63 is stored as NULL).
NULL_ROWS = [
    ("nulls", "d", f"n{i}", None, None, datetime(2024, 1, 1, 0, 0, 0, i), None)
    for i in range(3)
]
ODD_ROWS = [
    ("odd", "d'q", "it's.txt", "text/plain", T0, T1, 1),
    ("odd", "d\nl", "two\nlines", None, T0, T1, 0),
    ("odd", "d", "a%20b?%s.txt", "text/plain", None, T1, 2**63 - 1),
    ("odd", "dé", "ünï—✓.txt", None, datetime(2024, 5, 6, 7, 8, 9, 123456),
     datetime(2024, 5, 6, 7, 8, 9, 654321), 2**63),
    # a line that is exactly `\.` ends psql's inline COPY data
    ("odd", "d\n\\.\n", "\\.", "\\.\n", T0, T1, 3),
    ("odd", "tab\there", "back\\slash\\", "a\tb\\c", T0, T1, 4),
    ("odd", "cr\r", "crlf\r\n.txt", None, T0, T1, 5),
    ("odd", "\\N", "\\N", "\\N", T0, T1, 6),
    ("odd", "", "", "", T0, T1, 7),  # '' next to NULL
    ("odd", "d", "empty-mime", "", None, T1, None),
    ("odd", " lead", " lead.txt", " text/plain", T0, T1, 8),
]


def expected(rows):
    return sorted((*r[:6], clamp_size(r[6])) for r in rows)


def test_edge_values_round_trip_exactly(tmp_path):
    """All-NULL columns, quotes, newlines, %20, placeholders in names,
    non-ASCII, COPY's escapes and markers (``\\.``, tab, backslash,
    carriage return, ``\\N``), ``''`` next to NULL and leading spaces
    survive the Arrow staging unchanged, into an empty database."""
    path = str(tmp_path / "sink.duckdb")
    connect = lambda: duckdb.connect(path)
    sink = MergeSink(connect)
    sink.sync_rows(NULL_ROWS, "nulls", T1)
    sink.sync_rows(ODD_ROWS, "odd", T1)
    got = fetch(connect, ", ".join(FILE_COLUMNS))
    assert sorted(got) == expected(NULL_ROWS + ODD_ROWS)
