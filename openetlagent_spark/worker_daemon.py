"""Python-worker daemon for sessions built by :func:`session.get_spark`.

Spark starts this module once per executor, in place of
``pyspark.daemon`` (the ``spark.python.daemon.module`` conf), and every
Python worker is forked from it, so what it installs holds in every
worker.

Before each task PySpark calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython < 3.12
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the whole
directory of its archive, and a worker holds one importer per package
directory it imported from ``pyspark.zip``: 14–16 re-reads of 1,328
entries, 0.17–0.26 s of CPU per task.  CPython 3.12 makes the re-read
lazy.  :func:`install_zip_rescan_gate` gets the same effect on older
versions: an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the one taken before its last
read.

Run as ``python -m openetlagent_spark.worker_daemon <worker module>``;
the package ``__init__`` is lazy, so this imports nothing else from the
engine before handing off to ``pyspark.daemon.manager()``.  The daemon
starts before any task ships its files, so on a cluster the executors'
Python must import the package at start-up (installed, or on their
PYTHONPATH); ``--py-files`` alone is too late for it.
"""

from __future__ import annotations

import os
import sys

# archive path -> (st_mtime_ns, st_size) taken just before its last read;
# process-wide, like zipimport's own _zip_directory_cache it guards
_READ_AT: dict[str, tuple[int, int]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_rescan_gate() -> bool:
    """Gate ``zipimporter.invalidate_caches`` on the archive's
    ``(st_mtime_ns, st_size)``.  Idempotent; returns whether the gate is
    installed, which it never is on CPython >= 3.12."""
    if sys.version_info >= (3, 12):
        return False
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return True

    def invalidate_caches(self) -> None:
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and _READ_AT.get(self.archive) == sig:
            # another importer of the same archive may have re-read it
            self._files = files
            return
        reread(self)
        if sig is not None:
            _READ_AT[self.archive] = sig

    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install_zip_rescan_gate()
    from pyspark import daemon

    daemon.manager()
