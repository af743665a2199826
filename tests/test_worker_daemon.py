"""The package's Python worker daemon (``file_scraper_spark.worker_daemon``).

A task's ``importlib.invalidate_caches()`` must not re-read an unchanged
zip on ``sys.path``, but must still pick up one rewritten in place; and
a session started from any working directory must run Python tasks,
which now all fork from a daemon module inside the package.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from file_scraper_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    """Two importers share the archive (its root and the package
    directory inside it), as pyspark.zip's do: one re-read serves both."""
    archive = str(tmp_path / "lib.zip")
    pkg = {"fss_zip_probe/__init__.py": "", "fss_zip_probe/a.py": "X = 1\n"}
    _write_zip(archive, pkg)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon.invalidate_if_changed,
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    inner = os.path.join(archive, "fss_zip_probe")
    try:
        assert importlib.import_module("fss_zip_probe.a").X == 1
        worker_daemon.seed_stamps()
        reads.clear()

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [], "an unchanged archive was re-read"

        _write_zip(archive, {**pkg, "fss_zip_probe/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1, "a rewritten archive must be re-read once"
        assert importlib.import_module("fss_zip_probe.b").Y == 2
    finally:
        for name in ("fss_zip_probe", "fss_zip_probe.a", "fss_zip_probe.b"):
            sys.modules.pop(name, None)
        for path in (archive, inner):
            sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_tasks_run_the_package_wrapper(spark):
    names = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: zipimport.zipimporter.invalidate_caches.__qualname__)
        .collect()
    )
    assert names == [worker_daemon.invalidate_if_changed.__qualname__]


_FOREIGN_CWD_SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from file_scraper_spark.session import get_spark
from file_scraper_spark.sources import fs
spark = get_spark("foreign-cwd")
try:
    doubled = spark.sparkContext.parallelize([1, 2], 2).map(lambda x: 2 * x).collect()
    names = sorted(r.filename for r in fs.list_files(spark, {tree!r}).collect())
finally:
    spark.stop()
print(json.dumps({{"doubled": doubled, "names": names}}))
"""


def test_session_from_foreign_cwd_runs_python_tasks(tmp_path):
    """The driver puts the package on ``sys.path`` in-process (as
    conftest.py and __spark_entry__.py do) from a directory that is not
    the repo root: lambda tasks and package UDF tasks both run."""
    tree = tmp_path / "tree"
    (tree / "sub").mkdir(parents=True)
    (tree / "a.txt").write_text("a")
    (tree / "sub" / "b.txt").write_text("b")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c",
         _FOREIGN_CWD_SCRIPT.format(repo=REPO, tree=str(tree))],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {
        "doubled": [2, 4], "names": ["a.txt", "b.txt"],
    }
