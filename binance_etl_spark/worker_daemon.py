"""Python worker daemon: pyspark's own `pyspark.daemon`, minus a per-task zip re-read.

Before every task a worker calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). Before Python 3.13 that makes
each `zipimporter` on the worker path re-read its archive's whole central
directory (pyspark.zip, py4j, the spark-core jar): ~200-270 ms per task.
Here an archive is re-read only when its (inode, size, mtime) differs from
this process's last read of it; a changed archive is re-read exactly as
stock Python does. Python 3.13+ already defers the re-read, so the patch
is skipped there. Importing this module patches nothing; `session.py`
names it as `spark.python.daemon.module`, and only that process installs it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stamped before the read: a write racing it leaves a stale stamp,
    # so the next call reads again rather than trusting old contents
    _stock_invalidate_caches(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # one stamped read here, so workers forked later start from it
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
