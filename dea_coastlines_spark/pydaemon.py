"""Python worker daemon: `pyspark.daemon` with zip archives re-read
only when they change.

Every Python task runs `pyspark.worker_util.setup_spark_files`, which
ends in `importlib.invalidate_caches()`. On Python 3.11 that calls
`zipimporter.invalidate_caches` on every cached zip importer, and each
call eagerly re-reads its archive's central directory. Spark puts
`pyspark.zip`, py4j's zip and the spark-core jar on the workers'
PYTHONPATH, so a worker holds 16 importers over archives of up to
~5,000 entries, and pays ~125 ms of CPU per task before the kernel
runs (measured on a 4-vCPU x86 host with Spark 4.1).

`invalidate_caches` below makes each importer re-read its archive only when the
archive's (mtime_ns, size, inode) differs from what that importer last
read. The stamp lives on the importer instance: when one importer
refreshes a rewritten archive, the other importers over the same path
still hold the old directory and must re-read as well. Files shipped
with `addPyFile` after the workers start still import: a new zip gets
a new importer, a `.py` goes through the directory finder, which is
not patched. On a Python whose `invalidate_caches` is already lazy, the
check costs one `stat` per importer.

The patch is installed only when this module runs as the daemon,
before pyspark is imported; the daemon forks every worker, so the
workers inherit it. `session.get_spark` selects this module through
`spark.python.daemon.module`.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive unless it is unchanged since this importer
    last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_dcs_stamp", None) == stamp:
        return
    _reread(self)
    self._dcs_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
