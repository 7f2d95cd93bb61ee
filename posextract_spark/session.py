"""SparkSession builder with scale-oriented defaults.

Settings chosen for the 100 TB design point (and harmless locally):
- AQE on (runtime coalescing + skew-join splitting) — head-entity and
  oversized-page skew is a first-class concern (BASELINE.json north_rule);
- Arrow everywhere; bounded Arrow batch size so long documents cannot blow
  up executor-python memory inside the parse/extract UDFs;
- local parallelism and shuffle partitions default to the host's core
  count, the driver heap to half its physical memory (at most 48g); on a
  real cluster these are overridden by --conf / AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the former fixed default, sized for local[32] (an 8g heap GC-thrashed there)
MAX_DRIVER_MEMORY_MB = 48 * 1024


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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
