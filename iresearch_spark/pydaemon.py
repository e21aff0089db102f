"""Python worker daemon for ``get_spark`` sessions: the stock
``pyspark.daemon`` with a cheaper ``zipimporter.invalidate_caches``.

Every Python task runs ``importlib.invalidate_caches()`` before its UDF
(``pyspark/worker_util.py::setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` on the path re-read its archive's whole zip directory:
``pyspark.zip``, the py4j zip and any jar on ``PYTHONPATH``, 16-18
importers per task. On a reused worker this measured 0.23-0.34 s of CPU per
task, most of a warm one-task query. Here an archive is re-read only when
its ``(st_mtime_ns, st_size)`` changed since its last read, so a changed
archive is still picked up, as with the stock daemon. Forked workers
inherit the hook.

Run as ``python -m iresearch_spark.pydaemon`` (``spark.python.daemon.module``,
set by ``get_spark``). The module imports only the standard library and
``pyspark.daemon``, the same footprint as the stock daemon.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read every archive once here, so forked workers start with stamps
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
