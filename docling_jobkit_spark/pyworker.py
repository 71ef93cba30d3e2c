"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-reads.

Spark starts one daemon per executor (``spark.python.daemon.module``, set
by ``session.get_spark``) and the daemon forks the Python workers. On every
task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files shipped with ``addPyFile``
become importable. On Python 3.10-3.12 that call makes every cached
``zipimporter`` re-read its archive's central directory at once. A warm
worker holds ~16 importers over ``$SPARK_HOME/python/lib/pyspark.zip``
(3.5 MB, 1,328 entries): one per package of it that was imported. So each
task parsed that directory 16 times, most of the fixed CPU cost of a
Python task (OPTIMIZATION_r06.md §13).

Here the re-read is stat-gated: an archive is read again only when its
``(st_mtime_ns, st_size)`` differs from the stat taken just before its
last read, and all importers over one archive share that read. The stat
comes first, so a rewrite racing a read is seen on the next call. A
rewrite that keeps both the size and the mtime is not seen (the same
limit as the mtime check of importlib's directory finders). The daemon
reads each archive once before it forks, so workers start with 0 reads
per task. Python 3.13 made the re-read lazy; there the module only runs
the daemon.

    python -m docling_jobkit_spark.pyworker pyspark.worker
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (its (st_mtime_ns, st_size) taken before the read, the
# directory that read returned)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None:
        _read_at[self.archive] = (stamp, files)
    else:
        _read_at.pop(self.archive, None)


def install() -> None:
    """Stat-gate ``zipimporter.invalidate_caches`` in this process (a no-op
    on Python >= 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def zip_directory_reads() -> int | None:
    """How many archive directories one ``importlib.invalidate_caches()``
    reads in this process; None when no ``zipimporter`` is cached, so
    there is nothing to count."""
    if not any(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    ):
        return None
    reads = 0
    read_directory = zipimport._read_directory

    def counting(path):
        nonlocal reads
        reads += 1
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return reads


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # one read per archive here; every forked worker inherits it
    importlib.invalidate_caches()
    daemon.manager()
