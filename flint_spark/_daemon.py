"""Python worker daemon of flint_spark sessions
(``spark.python.daemon.module``, set by :func:`flint_spark.get_spark`).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.12, ``zipimporter.invalidate_caches``
re-reads the whole central directory of its archive, and the worker
path holds ``pyspark.zip`` (one importer per imported sub-package), the
py4j zip and the spark-core jar: ~0.1 s per task spent re-reading
archives that did not change. The guard below re-reads an archive only
when its ``(inode, size, mtime_ns)`` differs from the stamp taken just
before that importer last re-read it (an importer with no stamp yet
re-reads once), so a changed archive is still re-read. Python 3.12+
re-reads lazily and is left alone.
"""

import os
import sys
import zipimport


def guard_zip_rereads() -> None:
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        guard_zip_rereads()
    from pyspark.daemon import manager

    manager()
