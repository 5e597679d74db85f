"""Task-side preparation shared by every function the package ships to
Spark's Python workers (mapInPandas / mapInArrow /
applyInPandasWithState bodies and pandas UDFs)."""

from __future__ import annotations

import sys
import zipimport

from pyspark import TaskContext


def _worker_prep() -> None:
    """Drop every zip importer from ``sys.path_importer_cache`` when
    called inside a Spark task; a no-op on the driver.

    Every task starts with pyspark's ``setup_spark_files``
    (pyspark 4.1 ``pyspark/worker_util.py:144``), which calls
    ``importlib.invalidate_caches()``.  On CPython 3.11 each cached
    ``zipimporter`` answers that by re-reading its archive's whole
    central directory (``Lib/zipimport.py:329``), and a warm worker
    holds one per pyspark sub-package it has imported from
    ``pyspark.zip`` (1,328 entries) plus the py4j archive: about 16
    re-reads, 0.1-0.2 s, before the task's function runs.  With the
    zip importers gone the next task's invalidation has nothing to
    re-read.

    Dropping them is safe: ``zipimport._zip_directory_cache`` keeps
    each archive's listing, so a later import builds a fresh importer
    from it without reading the archive again.  Directory finders are
    left alone.  Idempotent; once nothing is left to drop a call costs
    one dict scan."""
    if TaskContext.get() is None:
        return
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
