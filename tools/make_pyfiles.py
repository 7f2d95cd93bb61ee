"""Package the engine for spark-submit --py-files.

Produces dist/posextract_spark.zip (or the path given as the one argument)
containing the package, suitable for:

    spark-submit --py-files dist/posextract_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        your_job.py

(cluster runs per BASELINE.json north_rule; the CLI entry point works as
``--py-files dist/posextract_spark.zip`` + a thin driver script calling
posextract_spark.cli.main).
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    """Write the package zip to ``out`` (default dist/posextract_spark.zip)
    and return its path."""
    out = out or os.path.join(REPO, "dist", "posextract_spark.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    pkg = os.path.join(REPO, "posextract_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
