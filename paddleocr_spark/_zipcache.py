"""Keep zipimport's archive directories while the archive is unchanged.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory — pyspark.zip once per sub-package, the Spark jars
on the path — about 0.2 s of CPU per task before its first row. CPython
3.13 made ``zipimporter.invalidate_caches()`` lazy: it only drops the cached
directory. On older versions the replacement below re-reads an archive only
when its stat signature changed since that importer last re-read it, so a
rewritten or vanished archive is re-read exactly as before. An importer's
first call always re-reads: the age of its directory is unknown.
"""

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self):
    sig = _signature(self.archive)  # taken first: a write during the re-read shows next time
    if sig is None or sig != getattr(self, "_stat_signature", None):
        _stdlib_invalidate_caches(self)
        self._stat_signature = sig


def install():
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


install()
