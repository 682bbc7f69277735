"""Python worker daemon for the engine's Spark sessions.

Spark starts one daemon per executor (``spark.python.daemon.module``,
set by ``session.get_spark``) and forks a worker from it whenever no
idle worker is left. Two things make a task cheaper than under plain
``pyspark.daemon``:

* Before every task PySpark's worker calls ``importlib.invalidate_caches()``.
  CPython's ``zipimporter`` answers by re-reading the archive's whole
  central directory, once per cached importer (``pyspark.zip`` and each
  of its sub-packages). The replacement below re-reads an archive only
  when its ``(mtime_ns, size)`` changed since it was last read.
* The daemon imports numpy, pandas, pyarrow and the engine's kernel
  modules once, so every forked worker starts with them loaded.

Spark runs it as ``python -m lucene_solr_spark.pyworker <worker module>``,
the same command line as ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_plain_read_directory = zipimport._read_directory
_plain_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size) seen just before its last read
_stamps: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    # stat BEFORE reading: a write racing the read leaves an older
    # stamp behind, so the next invalidation re-reads
    stamp = _stamp(archive)
    files = _plain_read_directory(archive)
    _stamps[archive] = stamp
    return files


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that keeps an unchanged
    archive's directory instead of re-reading it."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _plain_invalidate_caches(self)


def install() -> None:
    """Route zipimport's directory reads and invalidations through this
    module."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import lucene_solr_spark.indexing.build  # noqa: F401
    import lucene_solr_spark.search.executor  # noqa: F401

    # archives opened before install() carry no stamp yet: read each
    # once here, so forked workers inherit stamped directories
    importlib.invalidate_caches()

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the package name, so the patched functions report
    # lucene_solr_spark.pyworker as their module (not __main__)
    from lucene_solr_spark.pyworker import main as _main

    _main()
