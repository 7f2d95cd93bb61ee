"""dist/posextract_spark.zip freshness guard.

The north rule's deployment path is ``spark-submit --py-files
dist/posextract_spark.zip``; a stale zip ships last round's code to the
executors while the driver runs this round's — the worst kind of skew
(it surfaces as pickle/attribute errors at best, silently divergent
results at worst). The zip went stale once (rebuilt in r3, not after
the r4 operator rewrites); this pins every packaged .py byte-identical
to the working tree.
"""

import os
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_matches_working_tree():
    zpath = os.path.join(REPO, "dist", "posextract_spark.zip")
    if not os.path.exists(zpath):
        # dist/ is an untracked build artifact — absent on a fresh clone
        # is fine; PRESENT but stale is the deployment hazard.
        pytest.skip("dist zip not built (run tools/make_pyfiles.py before spark-submit)")
    with zipfile.ZipFile(zpath) as zf:
        names = set(zf.namelist())
        stale, missing = [], []
        tree = set()
        # every tracked source file must be in the zip with identical bytes
        for dirpath, _, filenames in os.walk(os.path.join(REPO, "posextract_spark")):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                arc = os.path.relpath(full, REPO)
                tree.add(arc)
                if arc not in names:
                    missing.append(arc)
                elif zf.read(arc) != open(full, "rb").read():
                    stale.append(arc)
        # ...and the reverse: a module deleted/renamed in the tree but still
        # packaged would stay importable on executors only — the same skew
        ghosts = sorted(
            n for n in names if n.endswith(".py") and n.startswith("posextract_spark/") and n not in tree
        )
    assert not missing, f"not in zip (run tools/make_pyfiles.py): {missing}"
    assert not stale, f"zip content stale (run tools/make_pyfiles.py): {stale}"
    assert not ghosts, f"zip ships modules absent from the tree: {ghosts}"


def test_spark_submit_pyfiles_e2e(tmp_path):
    """The north rule's literal deployment path, actually executed:
    ``spark-submit --py-files posextract_spark.zip job.py`` from a directory
    where the repo is NOT importable, with PYTHONPATH stripped — the zip,
    built fresh into ``tmp_path``, is the ONLY way the driver and the
    executors can import posextract_spark. The job builds its session with
    ``build_session``, so its Python workers fork from
    ``posextract_spark.daemon``, started from the zip, and runs the
    linked-pages generator (mapInPandas => executor-side package import)
    through link extraction and host aggregation, so a broken or incomplete
    zip fails loudly."""
    import shutil
    import subprocess

    from tools.make_pyfiles import main as make_pyfiles

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zpath = make_pyfiles(str(tmp_path / "posextract_spark.zip"))

    job = tmp_path / "job.py"
    job.write_text(
        """
from posextract_spark.session import build_session
from posextract_spark.sources.weblinks import linked_pages
from posextract_spark.operators.weblinks import extract_links, host_graph

spark = build_session(master="local[2]", shuffle_partitions=2)
assert spark.conf.get("spark.python.daemon.module") == "posextract_spark.daemon"
n = host_graph(extract_links(linked_pages(spark, 30, seed=42))).count()
assert n > 0, n
print("PYFILES_E2E_OK", n)
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [spark_submit, "--py-files", zpath, str(job)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PYFILES_E2E_OK" in proc.stdout, (proc.stdout, proc.stderr[-2000:])
