"""PySpark worker daemon that re-reads a zip on the import path only when
the zip changed.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
every ``zipimport.zipimporter`` re-read its archive's whole directory at
once; with pyspark.zip behind ~16 importers that was most of a small
task's wall. 3.13 made the re-read lazy. Here each importer keeps the
``(st_mtime_ns, st_size)`` of the archive as it last read it and re-reads
only when that changes: importers of one archive each hold their own
``_files``, so the stamp is per importer. ``session.get_spark`` points
``spark.python.daemon.module`` at this module when the workers can import
it.
"""

import importlib
import os
import sys
import zipimport

rereads = 0  # directory re-reads done by the patched invalidate_caches
_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    global rereads
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp
        rereads += 1


if __name__ == "__main__":
    from pyspark.daemon import manager  # imports the worker module too

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # stamp the importers workers inherit
    manager()
