"""Python worker daemon for `get_spark` (`spark.python.daemon.module`).

PySpark calls `importlib.invalidate_caches()` at the start of every task
(`worker_util.setup_spark_files`). On CPython < 3.13 that makes every
`zipimporter` on the worker re-read its archive's whole central
directory: a reused worker holds a dozen importers over pyspark.zip plus
the py4j zip and the spark-core jar, about 0.2 s per task on 4 vCPU.
This module replaces `zipimporter.invalidate_caches` in the daemon, so
every forked worker inherits a version that re-reads an archive only
when its (mtime, size, inode) stamp differs from this process's last
read; a changed archive is still re-read, once, and every importer over
it takes that one fresh directory. The daemon records the stamps of the
archives it has open before it forks, so a new worker's first task
reads none. On CPython >= 3.13 the stdlib method is already lazy and the
module only runs `pyspark.daemon.manager()`.

Spark starts the daemon as `python -m dataqualitykit_spark._pydaemon`,
so the package must be importable by the daemon itself, not only by a
task: on a cluster put the `--py-files` zip on the executors'
`PYTHONPATH` too (see `scripts/run_quality_pipeline.py`). Running the
module runs the package `__init__` first, which imports its submodules
lazily, so the daemon holds no pandas, numpy or pyarrow (preloading them
there raised `resumable_buckets` peak RSS ~3 % and no throughput).

`invalidate_caches` is importable without installing it; only running
the module installs it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stamp of the file this process last read the directory of
_read_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read `self.archive`'s directory only if the file changed since
    this process last read it; otherwise point the importer at the shared
    cached directory."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stdlib_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    cached = zipimport._zip_directory_cache.get(archive)
    if cached is not None and _read_stamps.get(archive) == stamp:
        self._files = cached
        return
    # the stat precedes the read: a write racing the read shows as a
    # changed stamp on the next invalidation
    _stdlib_invalidate_caches(self)
    _read_stamps[archive] = stamp


def _install() -> None:
    """Replace the stdlib method and record the stamps of every archive
    this process has an importer over (one read each)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager

    # install the package module's copy, not this __main__ one, so the
    # worker reports the method as dataqualitykit_spark._pydaemon's
    from dataqualitykit_spark._pydaemon import _install as install

    install()
    manager()
