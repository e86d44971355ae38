"""Spark Python worker daemon that keeps zip directories across tasks.

Every Python task calls ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``), and on Python 3.11 that makes each
``zipimporter`` on ``sys.path`` re-read its archive's central directory:
16 importers over the 1,328-entry ``pyspark.zip``, about 0.25 s of
worker CPU per task. Here an importer re-reads only when its archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the last read it made,
the same assumption as the ``mtime`` cache strategy (same inode, size
and mtime means same file), so a reused worker reads each directory
once. Run as ``spark.python.daemon.module`` (see ``session.options``),
it patches ``zipimporter`` and then runs PySpark's own daemon
unchanged; the workers it forks inherit the patch. Importing the module
changes nothing.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _fingerprint(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self):
    # stat before reading: a file that changes mid-read differs next time
    seen = _fingerprint(self.archive)
    if seen is None or seen != getattr(self, "_read_at", None):
        _reread(self)
        self._read_at = seen


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches

    manager()
