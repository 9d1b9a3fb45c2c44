"""Python worker daemon for ``get_spark`` sessions.

Spark forks every Python worker from one daemon process, and
``session.get_spark`` makes this module that daemon. It fixes one CPython
cost and then runs pyspark's own daemon unchanged.

The cost: pyspark calls ``importlib.invalidate_caches()`` once per task
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker holds one zipimporter per pyspark
subpackage imported from ``pyspark.zip`` or the py4j zip (16 of them, the
pyspark archive has 1,328 entries). That measured a median 225 ms of
every task on a 4-vCPU host, before any task code runs (SCALE.md,
"Python worker start per task").

Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what it saw at its last read, so
an added or rewritten archive is still picked up. A failed ``stat``
falls back to the stock re-read.

Run as ``python -m faiss_spark.worker_daemon``; the driver process is not
patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._read_stamp = None
        return _stock_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_read_stamp", None) != stamp:
        _stock_invalidate_caches(self)
        self._read_stamp = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # import this file under its package name so the patch a forked worker
    # sees is ``faiss_spark.worker_daemon.invalidate_caches``, not a copy
    # living in ``__main__``
    from faiss_spark.worker_daemon import main as _main

    _main()
