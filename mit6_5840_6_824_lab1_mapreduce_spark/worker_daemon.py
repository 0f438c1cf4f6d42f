"""Python worker daemon: ``pyspark.daemon`` with a cheaper
``importlib.invalidate_caches()``. ``get_spark`` selects it through
``spark.python.daemon.module``, so every Python task forks from here.

Measured reason (pyspark 4.1.2, CPython 3.11.7, local[4], 4 vCPUs):
the workers import from three zip archives on ``PYTHONPATH``
(``pyspark.zip``, 1,328 entries; the py4j zip; the Spark core jar,
5,359 entries), and a reused worker holds one ``zipimporter`` per
imported subpackage (16). ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` in every task, and on CPython
3.11 each ``zipimporter.invalidate_caches()`` re-parses its archive's
whole central directory (3.12 made that lazy, gh-103200). That call
took 174-412 ms of every task, and 0.1-0.3 ms with the check below; a
40-task ``parallelize(range(40), 40).map(f).count()`` went from
2.95-3.89 s to 1.02-1.07 s, and a 10-partition ``mapInPandas`` count
from 1.47-1.91 s to 1.10-1.12 s.

The check re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp this importer last read it at, so a zip that
really changes is still re-read. A missing archive, or any ``OSError``
from ``os.stat``, takes the stdlib path. On CPython >= 3.12 the check
only saves the lazy re-read, so there is no version branch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        self._stamp = None
        return _stdlib_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_stamp", None) != stamp:
        _stdlib_invalidate_caches(self)
        self._stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches_if_changed
    # pyspark.daemon reads sys.argv[1] (the worker module) at import.
    from pyspark.daemon import manager

    # The import above made all 16 importers; stamp them once here, so
    # a newly forked worker skips the re-read in its first task too (a
    # 4-task job on 3 new workers: 0.67-0.72 s unstamped, 0.41-0.43 s).
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # Install the copy imported under the package name, not this
    # __main__ one, so the patched method names its real module.
    from mit6_5840_6_824_lab1_mapreduce_spark.worker_daemon import main

    main()
