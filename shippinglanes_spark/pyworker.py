"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

At the start of every Python task, including tasks on a reused worker,
pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. That call reaches every importer on
``sys.path``. A ``zipimporter`` answers by re-reading its archive's whole
central directory, once per importer. Spark puts ``pyspark.zip`` (about
14 sub-path importers) and the spark-core jar on every worker's path, so
each task paid a fixed 0.15-0.22 s (4-core VM, Python 3.11) before its
kernel ran. A one-element ``mapInArrow`` cost more than its GEMM.

Run as the daemon, this module replaces ``zipimporter.invalidate_caches``
with a guarded version, then hands over to ``pyspark.daemon``. The guard
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the last read, so an archive that is added or rewritten is still picked
up, which is the case ``invalidate_caches`` exists for. Forked workers
inherit the patch. ``pyspark.daemon`` takes the worker module from
``sys.argv[1]``, which passes through unchanged.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stat: dict[str, tuple[int, int]] = {}


def _guarded_invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the file changed since the
    last read; otherwise share the directory already cached for it."""
    try:
        st = os.stat(self.archive)
    except OSError:  # gone: zipimport drops its cached directory
        _original_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return
    # stat BEFORE the read: a rewrite racing the read leaves an older
    # stat behind, so the next call re-reads instead of trusting it
    _original_invalidate_caches(self)
    _read_stat[self.archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    from pyspark import daemon

    daemon.manager()
