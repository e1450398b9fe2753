"""Python worker daemon: pyspark.daemon with stat-keyed zipimport invalidation.

Every Python task starts with ``importlib.invalidate_caches()``
(pyspark.worker_util.setup_spark_files).  On Python < 3.13 each zipimporter
answers by re-reading its archive's whole central directory, and Spark's
worker path holds three archives (pyspark.zip, the py4j zip, the
spark-core jar) behind 16 importers: about 27,000 directory entries, or
0.2-0.4 s, before every task's UDF runs.  Here an importer re-reads its
archive only when the archive's (mtime, size) changed on disk, so a
rewritten zip is still picked up.  Workers fork from this daemon, so they
inherit the patch.  session.get_spark selects this module.
"""

import importlib
import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_seen = {}  # archive path -> ((st_mtime_ns, st_size), directory dict)


def invalidate_caches(self):
    """zipimporter.invalidate_caches, re-reading only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    seen = _seen.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _read(self)
    _seen[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13 made invalidate_caches lazy
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the archives once, before forking
    daemon.manager()
