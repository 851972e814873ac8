"""Python worker daemon entry for engine sessions.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task.  Up to CPython 3.12 that makes each ``zipimport.zipimporter`` on the
worker path parse its archive's central directory again: 16 importers over
pyspark.zip, the py4j zip and the spark-core jar, 26,672 entries, over
half the wall time of a one-row Python job (``tools/python_task_cost.py``).
Importing this module makes ``zipimporter.invalidate_caches`` re-read an
archive only when its file changed since that importer last read it.
``get_spark`` starts the daemon from here (``spark.python.daemon.module``),
so every forked worker inherits the change.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory unless its (mtime, size, inode) is
    the one this importer last read; one that cannot be stat'ed is re-read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
