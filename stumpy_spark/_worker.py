"""Per-task start-up cost of Spark's Python workers.

A Python worker begins every task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.10 and 3.11
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory in Python: a Spark worker
holds 12 importers over ``pyspark.zip`` (one per imported subpackage), 2
over ``py4j`` and 2 over the ``spark-core`` jar, 0.13-0.26 CPU s per task
on a 4-CPU host before the task reads a row.

:func:`install` makes ``zipimporter.invalidate_caches`` skip the read while
the archive's ``(st_mtime_ns, st_size, st_ino)`` is what it was at that
archive's last read, and gives every importer of one archive the directory
of that one read.  A changed, replaced or removed archive is read again,
as before.  ``stumpy_spark/__init__.py`` calls
:func:`install_in_spark_worker` when a worker imports the package, which
happens while it unpickles any engine UDF, so every UDF gets it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _skip_unchanged(reread):
    reads = {}    # archive -> (stamp taken before its last read, directory)

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            reads.pop(self.archive, None)
            return reread(self)
        last = reads.get(self.archive)
        if last is None or last[0] != stamp:
            reread(self)
            # the stamp predates the read: an archive that changes during
            # the read reads as changed next time
            last = reads[self.archive] = (stamp, self._files)
        self._files = last[1]

    invalidate_caches.__wrapped__ = reread
    return invalidate_caches


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process; returns
    whether the wrapper is in place.

    Only CPython 3.10 and 3.11 re-read archives eagerly there; on other
    versions nothing is wrapped.  Importers that exist now are read once
    more (once per archive) so that each has a stamp to compare against.
    """
    if sys.version_info[:2] not in ((3, 10), (3, 11)):
        return False
    cls = zipimport.zipimporter
    current = cls.invalidate_caches
    if current.__module__ != __name__:
        cls.invalidate_caches = _skip_unchanged(current)
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, cls):
                finder.invalidate_caches()
    return True


def install_in_spark_worker() -> bool:
    """:func:`install` if this process is a Spark Python worker that may
    serve more than one task.

    A daemon-forked worker is kept for later tasks while
    ``spark.python.worker.reuse`` is on (Spark's default); its first task
    still pays one full re-read (Spark's, before this runs) plus one read
    per archive here.  A worker started without the daemon
    (``spark.python.use.daemon=false``) runs one task and exits, so it is
    left alone.
    """
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    main = getattr(sys.modules.get("__main__"), "__spec__", None)
    if (not os.environ.get("SPARK_REUSE_WORKER")
            or getattr(main, "name", None) == "pyspark.worker"):
        return False
    return install()
