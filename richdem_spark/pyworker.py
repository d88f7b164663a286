"""Stop PySpark worker processes re-reading unchanged zip archives.

Every task's ``setup_spark_files`` (``pyspark/worker_util.py``) calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole zip directory at once, in pure Python: pyspark.zip once per
package prefix and the 15 MB spark-core jar that the JVM puts on the
worker's ``sys.path``, 0.2-0.4 s per task whatever its data.
CPython 3.13 made the re-read lazy.

:func:`install` makes an importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since its last read, or
``os.stat`` fails. The package calls :func:`install_in_task` when it is
imported, so a worker installs it with the first task that unpickles
engine code; PySpark reuses workers, so the worker's later tasks start
without the re-read. A daemon entry (``spark.python.daemon.module``)
would also cover that first task, but the daemon starts before
``--py-files`` reach its path: where it cannot import the package,
every Python task fails.
"""

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.
    Idempotent; a no-op on Python >= 3.13."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return
    read_at = {}        # archive -> ((st_mtime_ns, st_size), directory)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        seen = read_at.get(self.archive)
        if sig is not None and seen is not None and seen[0] == sig:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        original(self)
        read_at[self.archive] = (sig, self._files)

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def install_in_task() -> None:
    """:func:`install` when running inside a PySpark task."""
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()
