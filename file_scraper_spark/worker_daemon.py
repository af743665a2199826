"""Python worker daemon for Spark executors: pyspark's own
``pyspark.daemon``, minus a zip re-read at the start of every task.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.12 (gh-103200 made it lazy), ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory on each call, and workers
import pyspark and py4j from the zips that Spark always puts first on
their path: one re-read per cached zipimporter, about 0.15 s per task.

``invalidate_if_changed`` replaces that method with the staleness rule
``FileFinder`` applies to directories: the directory is read again only
when the archive's ``(st_mtime_ns, st_size)`` differs from the stamp
taken when it was last read, so a zip rewritten in place is still seen
by the next task. Stamps of the archives read during start-up are taken
before pyspark's daemon is imported, so forked workers inherit them.
Non-zip finders are invalidated as before; forking, worker reuse and
authentication are pyspark's. ``session.get_spark`` names this module
in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def seed_stamps() -> None:
    """Stamp every archive whose directory zipimport has already read."""
    for path in zipimport._zip_directory_cache:
        try:
            _stamps[path] = _stamp(path)
        except OSError:
            pass


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches``, skipped for an unchanged archive."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        _reread(self)
        return
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and _stamps.get(self.archive) == stamp:
        # another importer of this archive may have re-read it already
        self._files = cached
        return
    # stamp taken before the read: a rewrite racing it is re-read next time
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    seed_stamps()
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
