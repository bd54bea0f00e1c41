"""PySpark worker daemon for ``get_spark`` sessions.

Spark starts it as ``python -m scida_spark._pydaemon`` (the session
sets ``spark.python.daemon.module``). It installs the stat-checked
``zipimporter.invalidate_caches`` below in the daemon process and then
runs the stock ``pyspark.daemon.manager()``, so every worker the daemon
forks inherits the patch. Nothing here runs on import, so the driver
process's ``zipimport`` is never touched. Uses only the stdlib.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def stat_checked(original):
    """A ``zipimporter.invalidate_caches`` that re-reads an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` differs
    from the stamp taken when it was last read; a changed (or never
    stamped, or unreadable) archive goes to ``original``, which re-reads
    it. All importers on one archive share one read, as they share
    ``zipimport._zip_directory_cache``."""
    read_stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        # Stat BEFORE reading: a write racing the read leaves an older
        # stamp next to newer contents, so the next call re-reads.
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and read_stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            read_stamps[archive] = stamp
        else:
            read_stamps.pop(archive, None)

    return invalidate_caches


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in THIS process.
    Returns whether it patched.

    PySpark's worker calls ``importlib.invalidate_caches()`` once per task
    (``pyspark/worker_util.py::setup_spark_files``). Before CPython 3.13
    that makes every zipimporter re-read its whole archive directory
    (``zipimport.py``, ``zipimporter.invalidate_caches``); a worker holds
    16 of them (12 on pyspark.zip, 2 on the py4j zip, 2 on the
    spark-core jar). Measured inside a worker on CPython 3.11 (4-core
    host, ``local[4]``): 160-240 ms per task; an 8-partition ``rdd.map``
    went from 545 to 148 ms without the re-read. CPython 3.13 made
    ``zipimporter.invalidate_caches`` lazy, so there it patches nothing.
    """
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    cls.invalidate_caches = stat_checked(cls.invalidate_caches)
    return True


if __name__ == "__main__":
    if install():
        # Read and stamp each archive once here, so forked workers start
        # with stamps instead of each re-reading on its first task.
        import importlib

        importlib.invalidate_caches()
    # pyspark.daemon reads the worker module from sys.argv at import
    # time; Spark passes the same arguments to this module.
    from pyspark.daemon import manager

    manager()
