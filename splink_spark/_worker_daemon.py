"""Python worker daemon for the sessions ``get_spark`` builds.

Spark forks each Python worker from one daemon process, started as
``python -m <spark.python.daemon.module>`` (stock: ``pyspark.daemon``).
Before every task the worker runs ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. Below Python 3.13 that
makes every ``zipimport.zipimporter`` re-read its archive's whole central
directory, and a worker holds one importer per imported subpackage of
``pyspark.zip`` (~16). That costs ~0.15-0.2 CPU-s per task before the task
does any work: more than a one-record online request spends in Spark.

Run as a module, this file patches ``zipimporter.invalidate_caches`` so
that an archive is re-read only when its ``(st_ino, st_mtime_ns,
st_size)`` differs from what it was at its last read, and all importers
of one archive share that read (as ``zipimport``'s own cache does on
first import). Then it hands over to ``pyspark.daemon.manager()``. A
rewritten or newly added archive (``SparkContext.addPyFile``) is still
read, so imports stay as fresh as Python promises. Python 3.13 made the
invalidation lazy and shared itself; there nothing is patched.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive -> its stamp when the directory now in zipimport's cache was read
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Returns whether the patch is in place (False on Python >= 3.13).
    Idempotent."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "skips_unchanged_archives", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stat before reading: a rewrite during the read leaves the old
        # stamp, so the next call reads again
        stamp = _archive_stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == _read_at.get(self.archive) \
                and files is not None:
            self._files = files
            return
        reread(self)
        _read_at[self.archive] = stamp

    invalidate_caches.skips_unchanged_archives = True
    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    # read each archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
