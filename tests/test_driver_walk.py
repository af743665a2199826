"""The driver walk of small fs trees (``pyds.DRIVER_WALK_MAX_ENTRIES``).

None of these tests starts Spark: the batch fs scrape of a tree under
the cap must not need a session, and the sharded plan of a larger tree
is walked here in-process, shard by shard, as executors walk it."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow as pa
import pytest

from file_scraper_spark.sinks.merge_sink import FILE_ARROW_SCHEMA
from file_scraper_spark.sources import fs, pyds
from tests.test_sources import _edge_case_tree


def _no_session():
    raise AssertionError("the driver walk asked for a SparkSession")


def _us(ns: int) -> datetime:
    """Epoch-ns -> naive UTC datetime floored to micros."""
    return datetime(1970, 1, 1) + timedelta(microseconds=ns // 1_000)


def _rows(batches) -> list[tuple]:
    """FILE_COLUMNS tuples of record batches, sorted."""
    for batch in batches:
        assert batch.schema == FILE_ARROW_SCHEMA
    table = pa.Table.from_batches(batches, FILE_ARROW_SCHEMA)
    return sorted(zip(*table.to_pydict().values()))


def _sharded_batches(root: str, **kw) -> list[pa.RecordBatch]:
    """The batch scrape's record batches with the tree forced above the
    cap, walking each shard of the plan as an executor task would and
    reading back the Arrow IPC stream it ships."""
    shipped = []

    class Context:
        defaultParallelism = 4

        def parallelize(self, shards, n):
            assert len(shards) == n
            shipped.extend(shards)
            return self

        def map(self, walk):
            streams = [walk(shard) for shard in shipped]
            return [b for s in streams for b in pa.ipc.open_stream(s)]

    class Session:
        sparkContext = Context()

    saved = pyds.DRIVER_WALK_MAX_ENTRIES
    pyds.DRIVER_WALK_MAX_ENTRIES = 0
    try:
        batches = fs.scrape_fs_batch(lambda: Session(), root, **kw)
    finally:
        pyds.DRIVER_WALK_MAX_ENTRIES = saved
    assert shipped, "the tree above the cap was not sharded"
    return batches


def _sharded_rows(root: str, **kw) -> list[tuple]:
    return _rows(_sharded_batches(root, **kw))


def test_driver_rows_equal_sharded_walk(tmp_path, monkeypatch):
    """On the edge-case tree plus an unreadable subdirectory and a file
    that vanishes between plan and stat, the driver's rows equal the
    rows of the sharded plan's walk: the seven regular files, exactly."""
    root = tmp_path / "tree"
    _edge_case_tree(root)
    locked = root / "only" / "locked"
    locked.mkdir()
    (locked / "secret.txt").write_bytes(b"s")
    victim = root / "vanishing.txt"

    real_scandir, real_listdir = os.scandir, os.listdir

    def refuse(real):
        def inner(path="."):
            if os.fspath(path) == str(locked):
                raise PermissionError(13, "Permission denied", str(locked))
            return real(path)

        return inner

    monkeypatch.setattr(os, "scandir", refuse(real_scandir))
    monkeypatch.setattr(os, "listdir", refuse(real_listdir))
    plans = []
    real_plan = pyds.plan_shards

    def plan_then_vanish(r):
        plan = real_plan(r)
        plans.append(plan)
        victim.unlink()
        return plan

    monkeypatch.setattr(pyds, "plan_shards", plan_then_vanish)

    victim.write_bytes(b"v")
    driver = _rows(fs.scrape_fs_batch(_no_session, str(root), identifier="t"))
    victim.write_bytes(b"v")
    sharded = _sharded_rows(str(root), identifier="t")

    walked, shipped = plans
    assert walked.walked and not shipped.walked
    assert str(victim) in walked.entries and str(victim) in shipped.entries
    assert str(locked) in walked.entries  # kept for the walk to skip
    assert driver == sharded
    names = sorted(r[2] for r in driver)
    assert names == sorted([
        "empty.txt", ".dotfile", "inside.csv", "_underscore.json",
        "has space.txt", "per%20cent.md", "x._COPYING_",
    ])


@pytest.mark.parametrize("layout", ["flat", "nested", "empty_dir"])
def test_cap_switches_path_exactly_once(tmp_path, monkeypatch, layout):
    """Trees of cap-1, cap and cap+1 entries: the first two are walked
    on the driver, the last is sharded — whether the cap is passed in
    the root's own listing (flat) or in a subdirectory's (nested), and
    when the root's listing reaches the cap with a directory still to
    list (empty_dir) — and the rows are the same either way."""
    cap = 6
    monkeypatch.setattr(pyds, "DRIVER_WALK_MAX_ENTRIES", cap)
    walked = []
    for entries in (cap - 1, cap, cap + 1):
        root = tmp_path / f"{layout}{entries}"
        files = root / "d" if layout == "nested" else root
        files.mkdir(parents=True)
        if layout == "empty_dir":
            (root / "z").mkdir()
        names = [f"f{i}.txt" for i in range(entries - (layout != "flat"))]
        for i, name in enumerate(names):
            (files / name).write_bytes(b"x" * i)
        plan = pyds.plan_shards(str(root))
        walked.append(plan.walked)
        if plan.walked:
            rows = _rows(
                fs.scrape_fs_batch(_no_session, str(root), identifier="t")
            )
        else:
            with pytest.raises(AssertionError, match="SparkSession"):
                fs.scrape_fs_batch(_no_session, str(root), identifier="t")
            rows = _sharded_rows(str(root), identifier="t")
        assert sorted(r[2] for r in rows) == sorted(names)
    assert walked == [True, True, False]


def test_listing_stops_after_the_directory_that_passes_the_cap(
    tmp_path, monkeypatch
):
    """Above the cap the driver lists no further than the directory in
    which the count passes it: a directory found there is left whole
    for an executor, and its files still reach the scrape."""
    cap = 6
    monkeypatch.setattr(pyds, "DRIVER_WALK_MAX_ENTRIES", cap)
    big = tmp_path / "big"
    (big / "deeper").mkdir(parents=True)
    for i in range(cap):
        (big / f"f{i}.txt").write_bytes(b"x")
    (big / "deeper" / "last.txt").write_bytes(b"y")

    plan = pyds.plan_shards(str(tmp_path))
    assert not plan.walked
    assert plan.entries == sorted(
        [str(big / f"f{i}.txt") for i in range(cap)] + [str(big / "deeper")]
    )
    assert len(plan.shards(4)) == 4  # the root's one directory spreads
    names = sorted(r[2] for r in _sharded_rows(str(tmp_path), identifier="t"))
    assert names == sorted([f"f{i}.txt" for i in range(cap)] + ["last.txt"])


def test_missing_root_raises(tmp_path):
    missing = str(tmp_path / "nowhere")
    with pytest.raises(FileNotFoundError):
        pyds.plan_shards(missing)
    with pytest.raises(FileNotFoundError):
        fs.scrape_fs_batch(_no_session, missing)


def test_file_root_is_walked_on_the_driver(tmp_path):
    """WalkDir of a file yields the file."""
    f = tmp_path / "a.csv"
    f.write_bytes(b"1,2\n")
    os.utime(f, ns=(1_700_000_000_123_456_789,) * 2)  # sub-µs mtime
    st = os.lstat(f)
    (row,) = _rows(fs.scrape_fs_batch(_no_session, str(f), identifier="t"))
    assert row[:4] == ("t", str(tmp_path), "a.csv", "text/csv")
    assert row[4] == _us(getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns)
    assert row[5] == _us(st.st_mtime_ns) == datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert row[6] == 4


def test_batches_split_at_batch_rows(tmp_path, monkeypatch):
    """The walk emits one record batch per ``BATCH_ROWS`` files, on the
    driver and in each shard, and the rows do not depend on the split."""
    root = tmp_path / "tree"
    _edge_case_tree(root)
    whole = _rows(fs.scrape_fs_batch(_no_session, str(root), identifier="t"))
    monkeypatch.setattr(fs, "BATCH_ROWS", 2)
    driver = fs.scrape_fs_batch(_no_session, str(root), identifier="t")
    assert [b.num_rows for b in driver] == [2, 2, 2, 1]
    assert _rows(driver) == whole
    sharded = _sharded_batches(str(root), identifier="t")
    assert max(b.num_rows for b in sharded) == 2
    assert _rows(sharded) == whole


def test_strict_created_raises_from_the_driver_walk(tmp_path):
    """strict_created keeps the reference's error on a missing birth
    time (src/fs.rs:65) on the driver path, naming the file."""
    f = tmp_path / "x.bin"
    f.write_bytes(b"\x00")
    st = os.lstat(f)
    if hasattr(st, "st_birthtime") or hasattr(st, "st_birthtime_ns"):
        pytest.skip("this platform has a birth time")
    with pytest.raises(pyds.BirthtimeUnavailableError, match="x.bin"):
        fs.scrape_fs_batch(_no_session, str(tmp_path), strict_created=True)
