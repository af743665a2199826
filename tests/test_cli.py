"""CLI regression tests (subprocess — the real user surface)."""

from __future__ import annotations

import subprocess
import sys


def run_cli(*args, timeout=240, env=None):
    return subprocess.run(
        [sys.executable, "-m", "file_scraper_spark", *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd="/root/repo",
        env=env,
    )


def test_cli_no_args_usage():
    r = run_cli()
    assert r.returncode == 2
    assert "usage:" in r.stderr


def test_cli_scrape_and_rescrape(tmp_path):
    tree = tmp_path / "t"
    tree.mkdir()
    (tree / "a.txt").write_text("x")
    db = str(tmp_path / "c.duckdb")
    r = run_cli(str(tree), "--database", db)
    assert r.returncode == 0 and "scraped" in r.stdout
    (tree / "a.txt").unlink()
    r = run_cli(str(tree), "--database", db)
    assert r.returncode == 0
    import duckdb

    con = duckdb.connect(db)
    deleted = con.execute(
        "SELECT deleted IS NOT NULL FROM external_file"
    ).fetchone()[0]
    con.close()
    assert deleted


def test_cli_missing_path_exit_code(tmp_path):
    r = run_cli("/nonexistent-dir-xyz", "--database", str(tmp_path / "d.duckdb"))
    assert r.returncode == 1
    assert "error:" in r.stderr


def test_cli_created_stat_toggle(tmp_path):
    """Default run records a stat-derived created; --no-created-stat
    leaves it NULL (the cheap listing-only mode)."""
    import duckdb

    tree = tmp_path / "t2"
    tree.mkdir()
    (tree / "a.txt").write_text("x")

    db1 = str(tmp_path / "with.duckdb")
    assert run_cli(str(tree), "--database", db1).returncode == 0
    con = duckdb.connect(db1)
    assert con.execute(
        "SELECT created IS NOT NULL FROM external_file"
    ).fetchone()[0]
    con.close()

    db2 = str(tmp_path / "without.duckdb")
    assert (
        run_cli(str(tree), "--database", db2, "--no-created-stat").returncode
        == 0
    )
    con = duckdb.connect(db2)
    assert con.execute(
        "SELECT created IS NULL FROM external_file"
    ).fetchone()[0]
    con.close()


def _scrape_edge_case_tree(tmp_path, env=None) -> tuple[dict, dict]:
    """Run the CLI on the edge-case tree; return (expected, stored) live
    rows as (path, filename) -> (size, modified, created), the expected
    ones from an independent os.walk + lstat."""
    import os
    import stat

    import duckdb

    from tests.test_sources import _edge_case_tree, _us

    tree = tmp_path / "tree"
    _edge_case_tree(tree)
    expect = {}
    for dirpath, _, files in os.walk(tree):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if stat.S_ISREG(st.st_mode):
                created = getattr(st, "st_birthtime_ns", None) or st.st_ctime_ns
                expect[(dirpath, f)] = (
                    st.st_size, _us(st.st_mtime_ns), _us(created)
                )
    assert len(expect) == 7

    db = str(tmp_path / "c.duckdb")
    r = run_cli(str(tree), "--database", db, env=env)
    assert r.returncode == 0, r.stderr
    con = duckdb.connect(db)
    got = {
        (path, filename): (size, modified, created)
        for path, filename, size, modified, created in con.execute(
            "SELECT path, filename, size, modified, created FROM external_file "
            "WHERE deleted IS NULL"
        ).fetchall()
    }
    con.close()
    return expect, got


def test_cli_scrapes_edge_case_tree(tmp_path):
    """The CLI records every regular file of the edge-case tree — empty,
    dot, dot-dir, `_`-prefixed, space, literal `%20` and `._COPYING_`
    names — with exact size and µs `modified`, and no symlink."""
    expect, got = _scrape_edge_case_tree(tmp_path)
    assert got == expect
    assert not {"link.txt", "dangling.txt"} & {f for _, f in got}


def test_cli_stores_utc_under_a_local_time_zone(tmp_path):
    """`modified` and `created` are stored as naive UTC, like `deleted`
    and the scrape time, whatever the time zone of the CLI process."""
    import os

    expect, got = _scrape_edge_case_tree(
        tmp_path, env={**os.environ, "TZ": "America/New_York"}
    )
    assert got == expect


_SPARK_PROBE = """
import json, sys
from pyspark import SparkContext
from file_scraper_spark import session
from file_scraper_spark.__main__ import main
from file_scraper_spark.sources import pyds

started = []
real_get_spark = session.get_spark
session.get_spark = lambda *a, **k: started.append(real_get_spark(*a, **k)) or started[-1]
if sys.argv[1] != "-":
    pyds.DRIVER_WALK_MAX_ENTRIES = int(sys.argv[1])
rc = main(sys.argv[2:])
print(json.dumps({
    "rc": rc,
    "started": len(started),
    "stopped": all(s.sparkContext._jsc is None for s in started),
    "active": SparkContext._active_spark_context is not None,
    "jvm": SparkContext._gateway is not None,
}))
"""


def _cli_spark_use(cap: str, *args) -> dict:
    """Run the CLI's ``main`` in a fresh interpreter (``cap`` "-" keeps
    ``pyds.DRIVER_WALK_MAX_ENTRIES``) and report whether it started
    Spark and whether the session was stopped by exit."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _SPARK_PROBE, cap, *args],
        capture_output=True, text=True, timeout=240, cwd=repo,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_cli_small_tree_starts_no_spark(tmp_path):
    """A tree under the driver-walk cap is scraped with no SparkContext
    and no JVM, and stores the same rows as a scrape through Spark."""
    from tests.test_sources import _edge_case_tree, _external_file

    tree = tmp_path / "tree"
    _edge_case_tree(tree)
    small, big = str(tmp_path / "small.duckdb"), str(tmp_path / "big.duckdb")
    args = (str(tree), "--identifier", "t")
    got = _cli_spark_use("-", *args, "--database", small)
    assert got == {"rc": 0, "started": 0, "stopped": True,
                   "active": False, "jvm": False}
    got = _cli_spark_use("0", *args, "--database", big)
    assert got == {"rc": 0, "started": 1, "stopped": True,
                   "active": False, "jvm": True}
    rows = _external_file(small)
    assert len(rows) == 7
    assert rows == _external_file(big)
