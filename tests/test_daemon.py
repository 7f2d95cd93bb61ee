"""Python workers fork from posextract_spark.daemon on local masters.

``session.build_session`` names the pre-importing daemon for ``local*``
masters and appends the package's ``sys.path`` entry to the executors'
PYTHONPATH; the daemon's pre-import never fails a task; forked workers keep
run_batches' GC policy."""

import json
import os
import subprocess
import sys

from posextract_spark import daemon
from posextract_spark.session import (
    DAEMON_MODULE,
    EXECUTOR_PYTHONPATH,
    PACKAGE_ENTRY,
    python_worker_conf,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = [(0, "Acme acquired Zorin."), (1, "Acme acquired factories, and mines, and railways.")]


def _probe(spark) -> list[dict]:
    """Per Python worker that ran a probe task: its daemon's command line,
    whether GC is on, and whether run_batches ran in that process."""

    def probe(batches):
        import gc

        import pyarrow as pa

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        batches_mod = sys.modules.get("posextract_spark.operators.batches")
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "parent": [parent],
            "gc_on": [gc.isenabled()],
            "ran_batches": [bool(getattr(batches_mod, "_HEAP_FROZEN", False))],
        })

    schema = "pid long, parent string, gc_on boolean, ran_batches boolean"
    df = spark.range(8).repartition(8).mapInArrow(probe, schema)
    return [r.asDict() for r in df.collect()]


def test_workers_fork_from_the_daemon(spark):
    rows = _probe(spark)
    assert rows
    for r in rows:
        assert DAEMON_MODULE in r["parent"], r


def test_gc_enabled_on_a_reused_worker_after_extract_triples(spark):
    from posextract_spark.operators.triples import extract_triples

    docs = spark.createDataFrame(DOCS * 8, "doc_id long, text string").repartition(4)
    assert extract_triples(docs, id_cols=["doc_id"], provider="template").count() > 0
    rows = _probe(spark)
    reused = [r for r in rows if r["ran_batches"]]
    assert reused, rows  # the workers are reused: some ran the triples
    assert all(r["gc_on"] for r in rows), rows


DRIVER = """
import json, sys
sys.path.insert(0, {repo!r})
from posextract_spark.session import build_session
from posextract_spark.operators.triples import extract_triples

spark = build_session(master="local[2]", shuffle_partitions=2)
docs = spark.createDataFrame({docs!r}, "doc_id long, text string")
rows = extract_triples(docs, id_cols=["doc_id"], provider="template").collect()
print("ROWS", json.dumps(sorted([r.doc_id, r.subject, r.verb, r.object] for r in rows)))
spark.stop()
"""


def test_driver_outside_the_checkout_runs_library_udfs(spark, tmp_path):
    """A driver run from another directory that finds the package only
    through a sys.path insert (as every tools/*.py does): the daemon and
    the workers import the package from the entry build_session puts on
    the executors' PYTHONPATH."""
    from posextract_spark.operators.triples import extract_triples

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    want = sorted(
        [r.doc_id, r.subject, r.verb, r.object]
        for r in extract_triples(docs, id_cols=["doc_id"], provider="template").collect()
    )
    assert want
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(repo=REPO, docs=DOCS)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS "))
    assert json.loads(line[len("ROWS "):]) == want


def test_non_local_master_sets_neither_key():
    assert python_worker_conf("spark://host:7077", {}) == {}
    assert python_worker_conf("yarn", {"a": "b"}) == {"a": "b"}


def test_local_master_names_the_daemon_and_the_package_entry():
    conf = python_worker_conf("local[2]", {})
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    assert conf[EXECUTOR_PYTHONPATH].split(os.pathsep) == [PACKAGE_ENTRY]
    assert os.path.isdir(os.path.join(PACKAGE_ENTRY, "posextract_spark"))


def test_extra_conf_daemon_module_wins():
    conf = python_worker_conf("local[4]", {"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_existing_executor_pythonpath_keeps_its_entries():
    existing = os.pathsep.join(["/srv/a", "/srv/b"])
    conf = python_worker_conf("local[*]", {EXECUTOR_PYTHONPATH: existing})
    assert conf[EXECUTOR_PYTHONPATH].split(os.pathsep) == ["/srv/a", "/srv/b", PACKAGE_ENTRY]
    # already listed: not added twice
    conf = python_worker_conf("local", {EXECUTOR_PYTHONPATH: PACKAGE_ENTRY})
    assert conf[EXECUTOR_PYTHONPATH] == PACKAGE_ENTRY


def test_installed_package_adds_no_site_directory(monkeypatch):
    import site

    from posextract_spark import session

    monkeypatch.setattr(session, "PACKAGE_ENTRY", site.getsitepackages()[0])
    conf = python_worker_conf("local[2]", {})
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    assert EXECUTOR_PYTHONPATH not in conf


def test_preload_survives_a_failed_import(monkeypatch, capsys):
    import gc

    monkeypatch.setitem(sys.modules, "posextract_spark.pipeline", None)
    try:
        daemon.preload()
    finally:
        gc.unfreeze()
    assert "pre-import failed" in capsys.readouterr().err
