"""Skip the zip archive re-reads that ``importlib.invalidate_caches()``
does not need (Python < 3.13).

Every PySpark Python worker task calls ``importlib.invalidate_caches()``
before it runs the UDF (``pyspark.worker_util.setup_spark_files``), and
before 3.13 that makes every cached ``zipimporter`` re-read its whole
archive directory at once: a warm worker holds ~16 importers over
pyspark.zip, the py4j zip and the spark-core jar, ~0.2 s of CPU per task.
Here an importer re-reads only when its archive's
``(st_ino, st_mtime_ns, st_size)`` differs from the one taken before its
last read; a missing archive counts as changed.  Like Python's own
stat-based source checks, an in-place rewrite that keeps the inode and
the size within one filesystem timestamp tick goes unseen.  The package
root imports this module, so every worker that unpickles a library
function keeps the guard for the rest of its life.  From 3.13 the
re-read is lazy and nothing is patched.
"""

import os
import sys
import zipimport

SIG_ATTR = "_tdigest_spark_stat"


def _guard(read):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, SIG_ATTR, None):
            read(self)
            setattr(self, SIG_ATTR, sig)

    invalidate_caches.unguarded = read
    return invalidate_caches


if sys.version_info < (3, 13) and not hasattr(
    zipimport.zipimporter.invalidate_caches, "unguarded"
):
    zipimport.zipimporter.invalidate_caches = _guard(
        zipimport.zipimporter.invalidate_caches
    )
