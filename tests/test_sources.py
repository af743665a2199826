"""Source-layer unit tests, mirroring the reference's own test
strategy (SURVEY §5: the S3-URL table test, src/s3.rs:159-175) plus
the edge cases the reference gets wrong on purpose."""

from __future__ import annotations

import pytest

from file_scraper_spark.sources.dispatch import source_for_path
from file_scraper_spark.sources.fs import list_files, scrape_fs
from file_scraper_spark.sources.url import parse_s3_url, split_key


def test_parse_s3_url_table():
    # same three shapes as the reference unit test
    loc = parse_s3_url("s3://my-bucket/some/path")
    assert (loc.bucket, loc.path) == ("my-bucket", "some/path")
    loc = parse_s3_url("s3://my-bucket")
    assert (loc.bucket, loc.path) == ("my-bucket", "")
    loc = parse_s3_url("s3://my-bucket/")
    assert (loc.bucket, loc.path) == ("my-bucket", "")
    # non-s3 paths fall through to fs (reference src/main.rs:72-81)
    assert parse_s3_url("/plain/dir") is None
    assert parse_s3_url("s3:/missing-slash") is None


def test_split_key_no_slash_does_not_crash():
    # the reference panics here (src/s3.rs:107-108); we yield dir=''
    assert split_key("bare-key.txt") == ("", "bare-key.txt")
    assert split_key("a/b/c.txt") == ("a/b", "c.txt")


def test_dispatch():
    assert source_for_path("s3://bucket/p").kind == "s3"
    assert source_for_path("/tmp").kind == "fs"
    assert source_for_path("s3://bucket/p").identifier == "s3://bucket/p"
    assert ":" in source_for_path("/tmp").identifier  # host:path


def test_fs_listing_never_reads_content(spark, sf_dir):
    # metadata-only: the physical plan's ReadSchema must exclude
    # `content` (parity with the reference never opening files)
    plan = list_files(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_scrape_fs_schema_and_rows(spark, sf_dir):
    df = scrape_fs(spark, sf_dir, identifier="t")
    assert [f.name for f in df.schema.fields] == [
        "external_source",
        "path",
        "filename",
        "mime_type",
        "created",
        "modified",
        "size",
    ]
    rows = df.collect()
    assert len(rows) == 10  # the ten fixture parquet files
    assert all(r.mime_type == "application/vnd.apache.parquet" for r in rows)
    assert all(r.size > 0 for r in rows)
    # created parity (reference src/fs.rs:65): populated from the
    # executor-side stat (st_ctime on Linux) — never NULL on a
    # readable local tree
    assert all(r.created is not None for r in rows)


def _us(ns: int):
    """Epoch-ns -> naive UTC datetime floored to micros, computed
    independently of the package."""
    from datetime import datetime, timedelta

    return datetime(1970, 1, 1) + timedelta(microseconds=ns // 1_000)


def test_scrape_fs_created_matches_stat(spark, tmp_path):
    """created and modified must equal the stat's birthtime/ctime and
    mtime to the microsecond, and created switches off cleanly with
    created_from_stat=False."""
    import os

    f = tmp_path / "x.bin"
    f.write_bytes(b"\x00" * 64)
    os.utime(f, ns=(1_700_000_000_123_456_789,) * 2)  # sub-ms mtime
    st = os.stat(f)
    expect_ns = getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns

    rows = scrape_fs(spark, str(tmp_path), identifier="t").collect()
    assert len(rows) == 1
    assert rows[0].created == _us(expect_ns)
    assert rows[0].modified == _us(st.st_mtime_ns)

    plain = scrape_fs(
        spark, str(tmp_path), identifier="t", created_from_stat=False
    ).collect()
    assert plain[0].created is None


def test_scrape_fs_strict_created_modes(spark, tmp_path):
    """strict_created=True reproduces the reference's
    error-on-missing-btime (src/fs.rs:65); the default falls back to
    st_ctime. On a btime-less platform (Linux) strict must FAIL the
    job; where btime exists, both modes agree."""
    import os

    from file_scraper_spark.sources.pyds import (
        BirthtimeUnavailableError,
        ListingReader,
        _Shard,
        created_time,
    )

    f = tmp_path / "x.bin"
    f.write_bytes(b"\x00")

    # default mode always fills created
    rows = scrape_fs(spark, str(tmp_path)).collect()
    assert rows[0].created is not None

    st = os.lstat(f)
    if hasattr(st, "st_birthtime") or hasattr(st, "st_birthtime_ns"):
        strict_rows = scrape_fs(
            spark, str(tmp_path), strict_created=True
        ).collect()
        assert strict_rows[0].created == rows[0].created
    else:
        # unit level: the walk's created helper raises the typed error
        with pytest.raises(BirthtimeUnavailableError):
            created_time(st, "strict", str(f))
        # job level: the failure propagates out of the executor
        with pytest.raises(Exception, match="BirthtimeUnavailable"):
            scrape_fs(spark, str(tmp_path), strict_created=True).collect()
    # strict never affects the vanished-file tolerance: an entry gone
    # between the driver's sharding and the executor's lstat is skipped
    reader = ListingReader({"path": str(tmp_path), "created": "strict"})
    assert list(reader.read(_Shard([str(tmp_path / "gone.bin")]))) == []


def test_scrape_fs_special_char_filenames(spark, tmp_path):
    """`created` must be populated for filenames containing spaces,
    `%`, `+`, and literal percent-escape sequences (reference
    semantics: created always set on a readable fs tree,
    src/fs.rs:65). Guards the URI-encoding hazard: some Spark file
    sources emit percent-encoded listing paths, and a naive
    path-join + stat then silently NULLs `created`."""
    names = ["has space.txt", "100%.txt", "a+b.txt", "per%20cent.txt"]
    for n in names:
        (tmp_path / n).write_bytes(b"x")

    rows = {r.filename: r for r in scrape_fs(spark, str(tmp_path)).collect()}
    # filenames surface as the real OS names, not encoded forms
    assert set(rows) == set(names)
    for n in names:
        assert rows[n].created is not None, n
        assert rows[n].path == str(tmp_path)


def _edge_case_tree(tmp_path) -> None:
    """Regular files with every name WalkDir keeps and a JVM listing
    drops, plus a file symlink and a dangling one, all below one
    directory."""
    import os

    top = tmp_path / "only"
    (top / ".hidden").mkdir(parents=True)
    (top / "sub").mkdir()
    (top / "empty.txt").write_bytes(b"")
    (top / ".dotfile").write_bytes(b"d")
    (top / ".hidden" / "inside.csv").write_bytes(b"h" * 3)
    (top / "_underscore.json").write_bytes(b"u" * 4)
    (top / "sub" / "has space.txt").write_bytes(b"s" * 5)
    (top / "sub" / "per%20cent.md").write_bytes(b"p" * 6)
    (top / "sub" / "x._COPYING_").write_bytes(b"c" * 7)
    os.symlink(top / "sub" / "has space.txt", top / "link.txt")
    os.symlink(tmp_path / "nowhere", top / "dangling.txt")


def test_scrape_fs_edge_case_tree(spark, tmp_path):
    """Every regular file WalkDir records reaches the scrape — empty,
    dot, dot-dir, `_`-prefixed, space and literal `%20` names — and
    symlinks (to a file or dangling) do not, compared against an
    independent os.walk + lstat. The tree hangs below one directory,
    so the listing must shard below the root to use several tasks."""
    import os
    import stat

    _edge_case_tree(tmp_path)
    expect = {}
    for dirpath, _, files in os.walk(tmp_path):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if stat.S_ISREG(st.st_mode):
                created = getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns
                expect[(dirpath, f)] = (
                    st.st_size, _us(st.st_mtime_ns), _us(created)
                )
    assert len(expect) == 7

    df = scrape_fs(spark, str(tmp_path), identifier="t")
    assert df.rdd.getNumPartitions() > 1
    got = {
        (r.path, r.filename): (r.size, r.modified, r.created)
        for r in df.collect()
    }
    assert got == expect


def test_list_files_matches_pylisting_format(spark, tmp_path):
    """fs.list_files (the RDD walk) and format("pylisting") share one
    implementation: identical schema and rows on the edge-case tree,
    one input partition per shard."""
    from file_scraper_spark.sources import pyds

    _edge_case_tree(tmp_path)
    listed = list_files(spark, str(tmp_path))
    pyds.register(spark)
    via_format = (
        spark.read.format("pylisting")
        .option("path", str(tmp_path))
        .option("numPartitions", spark.sparkContext.defaultParallelism)
        .load()
    )
    assert listed.schema == via_format.schema
    rows = sorted(listed.collect())
    assert len(rows) == 7
    assert rows == sorted(via_format.collect())
    shards = pyds.plan_shards(str(tmp_path), spark.sparkContext.defaultParallelism)
    assert listed.rdd.getNumPartitions() == len(shards) > 1


def test_listing_shards_below_single_child_root(tmp_path):
    """A root whose only child is a directory is split at the first
    level that has enough entries; no file is lost or duplicated."""
    import os

    from file_scraper_spark.sources.pyds import ListingReader

    for i in range(6):
        d = tmp_path / "one" / f"d{i}"
        d.mkdir(parents=True)
        (d / "f.txt").write_bytes(b"x")
    (tmp_path / "one" / "top.txt").write_bytes(b"x")

    reader = ListingReader({"path": str(tmp_path), "numpartitions": "4"})
    shards = reader.partitions()
    assert len(shards) == 4
    rows = [r for s in shards for r in reader.read(s)]
    assert sorted((os.path.basename(r[0]), r[1]) for r in rows) == sorted(
        [(f"d{i}", "f.txt") for i in range(6)] + [("one", "top.txt")]
    )


def test_mime_type_lookup_nulls(spark):
    """Known extensions map case-insensitively; unknown extensions and
    names without a '.' stay NULL."""
    from file_scraper_spark.sources.mime import with_mime_type

    df = spark.createDataFrame(
        [("a.PNG",), ("b.unknownext",), ("noext",), ("trailing.",), (None,)],
        "filename string",
    )
    got = dict(with_mime_type(df).collect())
    assert got == {
        "a.PNG": "image/png",
        "b.unknownext": None,
        "noext": None,
        "trailing.": None,
        None: None,
    }


def test_python_datasource_stat_fidelity(spark, tmp_path):
    """pyds rows must match os.stat exactly — size, mtime (UTC), and
    recursive traversal into subdirectories with pattern filtering."""
    import os
    from datetime import datetime, timezone

    from file_scraper_spark.sources import pyds

    (tmp_path / "sub" / "deep").mkdir(parents=True)
    (tmp_path / "a.dat").write_bytes(b"x" * 123)
    (tmp_path / "sub" / "b.dat").write_bytes(b"y" * 4567)
    (tmp_path / "sub" / "deep" / "c.dat").write_bytes(b"z")
    (tmp_path / "skip.txt").write_text("not matched")

    pyds.register(spark)
    rows = {
        r.filename: r
        for r in (
            spark.read.format("pylisting")
            .option("path", str(tmp_path))
            .option("pattern", "*.dat")
            .load()
        ).collect()
    }
    assert set(rows) == {"a.dat", "b.dat", "c.dat"}
    for name, rel in [("a.dat", "a.dat"), ("b.dat", "sub/b.dat"),
                      ("c.dat", "sub/deep/c.dat")]:
        p = tmp_path / rel
        st = os.stat(p)
        assert rows[name].size == st.st_size
        assert rows[name].path == str(p.parent)
        expect = datetime.fromtimestamp(st.st_mtime, tz=timezone.utc)
        got = rows[name].modified.replace(tzinfo=timezone.utc)
        assert abs((got - expect).total_seconds()) < 0.002


def test_python_datasource_tolerates_fs_anomalies(spark, tmp_path):
    """Real trees contain broken symlinks and symlink cycles; the
    executor walk must skip them (reference filter_map_ok parity,
    src/fs.rs:88) instead of crashing or looping forever."""
    import os

    from file_scraper_spark.sources import pyds

    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "real.dat").write_bytes(b"ok")
    os.symlink(tmp_path / "nowhere", sub / "broken.dat")  # dangling
    os.symlink(tmp_path, sub / "loop")  # cycle back to the root
    os.symlink(sub / "real.dat", sub / "alias.dat")  # file symlink

    pyds.register(spark)
    rows = (
        spark.read.format("pylisting")
        .option("path", str(tmp_path))
        .option("pattern", "*.dat")
        .load()
    ).collect()
    # only the regular file; no crash, no infinite loop, no
    # double-count through the cycle or the alias
    assert [(r.filename, r.size) for r in rows] == [("real.dat", 2)]


def test_streaming_datasource_replay_between_offsets(tmp_path):
    """Failure recovery: readBetweenOffsets must re-emit exactly the
    planned batch — files touched after the batch's end offset belong
    to the NEXT batch, files inside the range are replayed."""
    import os

    from file_scraper_spark.sources.pyds import ListingStreamReader

    root = tmp_path / "w"
    root.mkdir()
    (root / "a.dat").write_bytes(b"a")
    (root / "b.dat").write_bytes(b"bb")

    r = ListingStreamReader({"path": str(root), "pattern": "*.dat"})
    start = r.initialOffset()
    rows, end = r.read(start)
    assert {t[1] for t in rows} == {"a.dat", "b.dat"}

    # a file lands AFTER the planned batch (strictly newer mtime)
    (root / "late.dat").write_bytes(b"zzz")
    os.utime(root / "late.dat", ns=(end["mtime_ns"] + 10**9,) * 2)

    replay = list(r.readBetweenOffsets(start, end))
    assert {t[1] for t in replay} == {"a.dat", "b.dat"}
    # and the next live batch picks up only the late file
    nxt, _ = r.read(end)
    assert {t[1] for t in nxt} == {"late.dat"}


def test_python_streaming_datasource_incremental(spark, tmp_path):
    """pylisting_stream: batch 1 sees the initial tree; after new
    files land, the next pass emits ONLY them (mtime watermark
    offsets)."""
    import time
    import uuid as _uuid

    from file_scraper_spark.sources import pyds

    root = tmp_path / "watched"
    root.mkdir()
    (root / "a.dat").write_bytes(b"aa")
    (root / "b.dat").write_bytes(b"bbb")

    pyds.register_stream(spark)
    stream = (
        spark.readStream.format("pylisting_stream")
        .option("path", str(root))
        .option("pattern", "*.dat")
        .load()
    )
    name = f"pyds_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.filename for r in spark.table(name).collect()}
        assert first == {"a.dat", "b.dat"}

        time.sleep(0.01)  # ensure a strictly newer mtime
        (root / "c.dat").write_bytes(b"cccc")
        q.processAllAvailable()
        rows = [r.filename for r in spark.table(name).collect()]
        assert sorted(rows) == ["a.dat", "b.dat", "c.dat"]  # c once, no re-emits
    finally:
        q.stop()
