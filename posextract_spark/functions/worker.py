"""Python-worker helpers for the UDF batch functions.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(after adding the task's files to ``sys.path``). Up to CPython 3.12 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's whole central directory. A reused worker holds one importer
per zip package directory it has imported from — the Spark jar Spark puts
on PYTHONPATH (5k entries, no Python in it) and ``pyspark.zip`` once per
imported pyspark subpackage — and measured 0.21-0.22 CPU-s of re-reads per
task on CPython 3.11.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> None:
    """Delete the zipimporters from ``sys.path_importer_cache``, so the
    next task's ``invalidate_caches()`` re-reads no archive.

    Safe: modules already loaded keep their loaders, and an import that
    needs an archive again gets a new importer from ``sys.path_hooks``,
    which reuses zipimport's directory cache instead of re-reading the
    archive. Costs a scan of the ~100 cache entries; call it once per task
    from each UDF batch function."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
