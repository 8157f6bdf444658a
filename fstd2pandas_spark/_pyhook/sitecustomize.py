"""Interpreter-start hook for every Python process Spark starts.

:func:`fstd2pandas_spark.session.get_spark` puts this directory first on
``PYTHONPATH`` before the JVM starts, and Spark passes it to every
Python process it launches (planner runners, ``pyspark.daemon`` and its
workers, non-daemon workers), whose ``site`` then imports this file as
``sitecustomize``.

Why: pyspark calls ``importlib.invalidate_caches()`` at the start of
every task and planner call, and those processes import pyspark from
``pyspark.zip``. On CPython < 3.12 each of the ~15 zipimporters over
that 1,328-entry archive then re-reads its directory eagerly: 80-146 ms
per call on a 4-core host. The replacement installed here re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
its last read, so a zip rewritten in place still re-reads. CPython 3.12
made the invalidation lazy itself; there nothing is installed. The next
``sitecustomize`` on ``sys.path`` is then chained, not shadowed.

It runs first in those processes, so it imports only the standard
library. Imported under its package name it only defines functions.
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


def _chain_next_sitecustomize() -> None:
    """Run the ``sitecustomize`` this one shadows, if any, and leave it
    in ``sys.modules`` as the interpreter would have."""
    from importlib import machinery, util

    here = os.path.dirname(os.path.realpath(__file__))
    rest = [p for p in sys.path
            if os.path.realpath(p or os.curdir) != here]
    spec = machinery.PathFinder.find_spec(__name__, rest)
    if spec is None:
        return
    module = util.module_from_spec(spec)
    sys.modules[__name__] = module
    spec.loader.exec_module(module)


if __name__ == "sitecustomize":
    if sys.version_info < (3, 12):
        install_lazy_zip_invalidation()
    _chain_next_sitecustomize()
