"""Spark's Python-worker daemon, minus the per-task re-read of zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and Python's ``zipimporter.invalidate_caches`` re-reads its archive's whole
central directory, once for every package imported from that archive
(Spark 4.1's ``pyspark.zip`` holds 1,328 entries: 125-135 ms per task on a
4-core x86 host).  Here a zip importer re-reads its archive only when the
archive's ``(mtime_ns, size, inode)`` changed since the last read, so a
rewritten archive is still seen.
:func:`mongraph_spark.sparkutil.get_spark` starts Python workers through
this module (``spark.python.daemon.module``); it then runs
``pyspark.daemon.manager()``.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict = {}  # archive path -> its (mtime_ns, size, inode) when last read


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or _read_at.get(self.archive) != stamp:
        _read_at[self.archive] = stamp
        _reread(self)
    else:  # another importer of the same archive may have re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # read each archive once, before workers fork
    daemon.manager()
