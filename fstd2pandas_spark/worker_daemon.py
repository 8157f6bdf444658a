"""Executor Python-worker daemon: ``pyspark.daemon`` with a lazy zip-cache
invalidation.

:func:`fstd2pandas_spark.session.get_spark` sets
``spark.python.daemon.module`` to this module, so Spark starts every
executor Python worker (data-source ``read()`` tasks, Arrow kernels,
UDFs) as ``python -m fstd2pandas_spark.worker_daemon pyspark.worker``.

Why: pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and
workers import pyspark from ``pyspark.zip``. On CPython < 3.12,
``zipimport.zipimporter.invalidate_caches()`` re-reads the whole zip
directory eagerly, once per zipimporter — about 15 importers (one per
imported pyspark subpackage) over a 1,328-entry archive, 80-146 ms per
task on a 4-core host. The replacement installed here re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
the one seen at its last read; otherwise the importer is pointed at the
shared ``zipimport._zip_directory_cache`` entry. A zip rewritten in
place therefore still re-reads. CPython 3.12 made the invalidation lazy
itself; there this module only delegates to ``pyspark.daemon``.

The package must be importable on the workers (the ``fstrec`` data
source already requires it).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install_lazy_zip_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` (process-wide) with a
    version that re-reads an archive only when its stat stamp changed.
    Idempotent."""
    if lazy_zip_invalidation_installed():
        return
    eager = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps: "dict[str, tuple]" = {}

    def invalidate_caches(self):
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # stamp, so the next call re-reads
        stamp = _archive_stamp(self.archive)
        if (stamp is not None and stamps.get(self.archive) == stamp
                and self.archive in cache):
            self._files = cache[self.archive]
            return
        eager(self)
        if stamp is None or self.archive not in cache:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    invalidate_caches._lazy_zip_invalidation = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def lazy_zip_invalidation_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_lazy_zip_invalidation", False)


def main() -> None:
    if sys.version_info < (3, 12):
        install_lazy_zip_invalidation()
    # pyspark.daemon picks the worker module from sys.argv[1] at import
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
