"""SparkSession builder with scale-oriented defaults.

Settings chosen for the 100 TB design point (and harmless locally):
- AQE on (runtime coalescing + skew-join splitting) — head-entity and
  oversized-page skew is a first-class concern (BASELINE.json north_rule);
- Arrow everywhere; bounded Arrow batch size so long documents cannot blow
  up executor-python memory inside the parse/extract UDFs;
- local parallelism and shuffle partitions default to the host's core
  count, the driver heap to half its physical memory (at most 48g); on a
  real cluster these are overridden by --conf / AQE coalescing;
- for ``local*`` masters, Python workers fork from ``posextract_spark.daemon``,
  which imports pyarrow, pandas, pyspark's worker and this library once,
  before it forks, so the workers share those pages instead of each
  importing its own copy. The JVM starts that daemon as ``python -m
  posextract_spark.daemon`` before any task has added its files to the
  worker's ``sys.path``, so the ``sys.path`` entry the driver loaded this
  package from (a checkout directory or a ``--py-files`` zip) is appended to
  ``spark.executorEnv.PYTHONPATH``; without it a driver run from another
  directory, or a ``spark-submit --py-files`` job, fails every Python task
  with ``No module named 'posextract_spark'``. Other masters keep the stock
  daemon, since their executors may not have the package before the first
  task runs. Where the executors have it installed, opt in with
  ``extra_conf={"spark.python.daemon.module": "posextract_spark.daemon"}``.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# the former fixed default, sized for local[32] (an 8g heap GC-thrashed there)
MAX_DRIVER_MEMORY_MB = 48 * 1024

DAEMON_MODULE = "posextract_spark.daemon"
EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# the sys.path entry this package was loaded from: <entry>/posextract_spark/
PACKAGE_ENTRY = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the host's core count."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half the host's physical memory, at
    most 48g."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(MAX_DRIVER_MEMORY_MB, physical_mb // 2)}m"


def python_worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus, for a ``local*`` master, the pre-importing
    daemon (unless ``extra_conf`` names another) and the package's entry
    appended to ``spark.executorEnv.PYTHONPATH`` (after any entries
    ``extra_conf`` gives it)."""
    conf = dict(extra_conf)
    if not master.startswith("local"):
        return conf
    conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
    paths = [p for p in conf.get(EXECUTOR_PYTHONPATH, "").split(os.pathsep) if p]
    # an installed package's site directory is already on the worker's path;
    # on PYTHONPATH it would move ahead of the standard library
    if PACKAGE_ENTRY not in paths and PACKAGE_ENTRY not in site.getsitepackages():
        paths.append(PACKAGE_ENTRY)
    if paths:
        conf[EXECUTOR_PYTHONPATH] = os.pathsep.join(paths)
    return conf


def build_session(
    app_name: str = "posextract-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pinned UTC: date_format(ts, ...) renders in the session timezone,
        # and the DuckDB oracle's strftime is timezone-naive — on a non-UTC
        # host the day strings would diverge for events near midnight
        # (ADVICE r3). Also the only defensible default for a multi-region
        # 1000-executor cluster.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_size))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: the driver heap IS the executor heap
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    # last-wins overrides (e.g. tools/stress.py re-enables the UI to
    # read per-stage shuffle/spill metrics over the REST API)
    for k, v in python_worker_conf(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
