"""Python worker daemon: PySpark's own daemon with a cheaper zip-cache refresh.

``get_spark`` names this module in ``spark.python.daemon.module`` for local
masters, so the JVM starts it (``python -m ddataframeoperation_spark.pydaemon``)
in place of ``pyspark.daemon``. It installs one patch and then hands over
to :func:`pyspark.daemon.manager`; worker behaviour is otherwise unchanged.

Why: every Python task runs PySpark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per zipimporter. A worker holds one zipimporter per
package directory it has imported from ``pyspark.zip`` (12 after one
``pandas_udf`` task; the zip lists 1,328 entries), so each task read that
directory a dozen times or more: 100–210 ms per task on a 4-vCPU host,
most of a one-partition ``pandas_udf`` task. :func:`invalidate_caches` re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the last read, so a zip that is
rewritten on disk is still re-read. CPython 3.13 made the invalidation lazy,
and there this module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: ``zipimporter.invalidate_caches`` as the interpreter ships it.
_stock_invalidate = zipimport.zipimporter.invalidate_caches

#: Archive path -> ``(st_mtime_ns, st_size)`` taken just before its last read.
_read_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only if the file changed on disk."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _read_stamps.pop(archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(archive)
    if cached is not None and _read_stamps.get(archive) == stamp:
        self._files = cached
        return
    # Stamp before reading: a rewrite that lands mid-read leaves an older
    # stamp, so the next call reads again instead of keeping a stale table.
    _stock_invalidate(self)
    _read_stamps[archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # Read each archive once here, before the fork, so that every worker
    # inherits its stamp instead of paying one read on its first task.
    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
