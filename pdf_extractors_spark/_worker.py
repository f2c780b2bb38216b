"""Python-worker set-up guard: stop re-reading unchanged zip archives.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimport.zipimporter`` on ``sys.path`` re-read its whole archive
directory: pyspark.zip (about 1,300 entries), the py4j zip, the
package zip ``session.get_spark`` ships and the spark-core jar (about
5,400 entries). That costs 0.2-0.4 s of CPU per task on CPython 3.11,
and it does not depend on the data the task processes.

``install_zip_reload_guard`` replaces ``zipimporter.invalidate_caches``
with one that re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the last read by that importer. A changed,
replaced or removed archive is still re-read, so invalidation keeps its
meaning; an unchanged one is skipped. CPython 3.13 re-reads lazily on
its own, so there the guard is not installed.

The package ``__init__`` installs it only inside a Spark task, which is
where workers import the package (when they unpickle a package
function). The driver's interpreter is left alone.
"""

from __future__ import annotations

import os
import sys

_MARKER = "_unchanged_archive_guard"


def in_spark_task() -> bool:
    """True while this interpreter runs a Spark task. A worker has
    always imported ``pyspark.taskcontext`` before it unpickles a task's
    function, so a process that has not imported it runs no task."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def guard_installed() -> bool:
    """Whether this process runs the guarded ``invalidate_caches``."""
    import zipimport

    return getattr(zipimport.zipimporter, _MARKER, False)


def install_zip_reload_guard() -> bool:
    """Install the guard in this process (idempotent). Returns whether it
    is installed; False on CPython >= 3.13, where it is not needed."""
    if sys.version_info >= (3, 13):
        return False
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls, _MARKER, False):
        return True
    reload = cls.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive directory unless the archive file is
        unchanged since this importer last read it."""
        # stat before the read: a change that lands during the read
        # leaves an older stamp, so the next call re-reads again
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
            return
        reload(self)
        self._dir_stamp = stamp

    cls.invalidate_caches = invalidate_caches
    setattr(cls, _MARKER, True)
    return True
