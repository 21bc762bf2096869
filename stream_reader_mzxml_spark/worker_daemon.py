"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Each Python invocation (one per UDF / ``applyInPandasWithState`` call) runs
pyspark's ``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Up to CPython 3.12 that makes every
``zipimporter`` on the worker's path eagerly re-read its archive's central
directory: ``pyspark.zip`` (1,328 entries) once per package importer (12),
the spark-core jar (5,359 entries) and the py4j zip twice each — 16 reads,
~0.16 CPU-s per call (BASELINE.md, "Engine-owned worker daemon").

This module replaces ``zipimporter.invalidate_caches`` with a stat-checked
one and then runs the stock ``pyspark.daemon`` manager, so the forked
workers inherit the patch. An archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read in this
process — the mtime rule ``FileFinder`` applies to directories — so a
rewritten or newly added zip is still picked up. Otherwise the importer
adopts the directory already in ``zipimport._zip_directory_cache``.
CPython 3.13 invalidates lazily (``_get_files`` re-reads on demand), so the
patch is applied only below 3.13.

It also freezes the heap the workers fork from. A reused worker's full
``gc.collect()`` after each task (``pyspark/daemon.py:244``) walked ~70 k
import-time objects of pandas, pyarrow and ``pyspark.worker``: 20–45 ms CPU
a task (BASELINE.md, "Frozen daemon heap"). :func:`prepare` imports them,
then calls ``gc.freeze()`` before the fork; task garbage is still collected.

Workers start as ``python -m stream_reader_mzxml_spark.worker_daemon``: the
package must be importable from the driver's cwd or ``PYTHONPATH``, as it
already must be to unpickle the engine's UDFs.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stamps = _invalidate_caches.stamps
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a write racing the read re-reads next time
    try:
        self._files = zipimport._read_directory(self.archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        stamps.pop(self.archive, None)
        self._files = {}
        return
    zipimport._zip_directory_cache[self.archive] = self._files
    stamps[self.archive] = stamp


# archive path -> (st_mtime_ns, st_size, st_ino) at its last read here;
# also what a task can check to see that its worker runs this daemon
_invalidate_caches.stamps = {}


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (CPython < 3.13 only)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def prepare() -> None:
    """Patch, import what every pandas UDF worker imports, and freeze."""
    install()
    # one stamped read of every archive here, so forked workers start current
    importlib.invalidate_caches()
    import pandas, pyarrow, pyspark.daemon  # noqa: E401, F401
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    prepare()
    from pyspark.daemon import manager

    manager()
