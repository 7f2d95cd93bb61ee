"""PySpark's worker daemon, started with the extraction workers' modules
already imported.

PySpark forks every Python worker from one daemon process, the module
``spark.python.daemon.module`` names (``session.build_session`` names this
one for local masters). The stock daemon imports little beyond
``pyspark.worker``, so each forked worker imports pyarrow, pandas and this
library for itself and keeps a private copy of them. This daemon imports
them once, before it forks, and freezes that heap (``gc.freeze``), so the
workers share those pages copy-on-write and their collections never walk
them. It then runs the stock daemon's loop unchanged.

Run by the JVM as ``python -m posextract_spark.daemon pyspark.worker``.
"""

from __future__ import annotations

import gc
import sys
import traceback


def preload() -> None:
    """Import what every extraction worker imports, drop the zip importers
    that left behind, collect and freeze the heap. A failed import is
    reported on stderr and otherwise ignored: the workers then import what
    they need themselves, as under the stock daemon."""
    try:
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.worker  # noqa: F401

        import posextract_spark.operators.pairs  # noqa: F401
        import posextract_spark.pipeline  # noqa: F401
        from posextract_spark.functions.worker import drop_zip_importers
        from posextract_spark.parse.provider import get_provider

        get_provider("template")
        drop_zip_importers()
    except Exception:
        print("posextract_spark.daemon: pre-import failed; workers import for themselves",
              file=sys.stderr)
        traceback.print_exc()
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    preload()
    from pyspark.daemon import manager

    manager()
