"""Stress runner: run contract queries by name at a scale the tests never reach.

Builds a larger input directory from a small one, then runs the named rows
of ``__spark_entry__.REGISTRY`` over it. Every query is built first; then,
after one warm-up of the Python workers, each runs as ``.count()`` under a
timer in its own Spark job group. The run prints one JSON line: per query
its seconds, rows, jobs and stages, and, from the local UI's REST API, the
completed stages with the most shuffle, each with the query it ran under,
and the total spill.

The directory (``.localdata/sf1`` under the repo) holds two tables, each
built the first time a named query reads it:
  documents   SRC_DIR's documents, replicated --replicate times with remapped
              doc_ids (the default 400 replicas of sf0.1 are 2M documents)
  embeddings  one deterministic 64-dim vector per replicated document
A query that reads any other table fails with a message naming the table.

Usage:
  python3 tools/stress.py [--replicate N] [--cpus N] [--skip-gen] SRC_DIR QUERY...

--skip-gen keeps the tables an earlier run left in the directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_DIR = os.path.join(REPO, ".localdata", "sf1")
DIM = 64


class MissingTable(Exception):
    def __init__(self, query: str, table: str, sf_dir: str):
        super().__init__(f"{query} reads table {table!r}, which {sf_dir} lacks")
        self.table = table


def warm_up(spark) -> None:
    """Start the Python workers on every core: the first timed query would
    otherwise pay their spawn. The repartition spreads the UDF over all
    cores; a narrow warm-up would start one worker."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    spark.range(4096).repartition(64).select(_warm("id")).count()


def in_job_group(spark, name: str, action):
    """Run ``action()`` as its own Spark job group; return its result, its
    seconds, and the ids of the jobs and of the stages it ran."""
    sc = spark.sparkContext
    group = f"{name}-{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        out = action()
        secs = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    return out, secs, jobs, stages


def stage_rows(stages: list[dict], query_of: dict[int, str]) -> list[dict]:
    """One row per REST stage record: its shuffle, spill and run time, and
    ``query_of[stage id]``, the query whose job group ran it (None for a
    stage outside every query, such as the warm-up's). The REST name of
    every AQE query stage is the same future's call site, so the query is
    what tells the rows apart."""
    return [
        {
            "stage": s["stageId"],
            "query": query_of.get(s["stageId"]),
            "name": s["name"].split("\n")[0][:60],
            "tasks": s["numCompleteTasks"],
            "input_mb": round(s.get("inputBytes", 0) / 1e6, 1),
            "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "mem_spill_mb": round(s.get("memoryBytesSpilled", 0) / 1e6, 1),
            "disk_spill_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1),
            "runtime_s": round(s.get("executorRunTime", 0) / 1e3, 1),
        }
        for s in stages
    ]


def _stage_metrics(spark, query_of: dict[int, str]) -> list[dict]:
    """All completed stages from the local UI REST API (shuffle + spill),
    as ``stage_rows``."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        return []
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages?status=complete") as r:
            stages = json.load(r)
    except Exception as e:  # UI disabled or port clash: metrics are best-effort
        print(f"stress: REST metrics unavailable: {e}", file=sys.stderr)
        return []
    return stage_rows(stages, query_of)


def _build(spark, sf_dir: str, query, make):
    """``query.build`` over ``sf_dir``; a table it reads that the directory
    lacks is made by ``make(table)`` if that returns True, else raises
    MissingTable."""
    from pyspark.errors import AnalysisException

    made: set[str] = set()
    while True:
        try:
            return query.build(spark, sf_dir)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            path = e.getMessageParameters()["path"].rstrip("/")
            table = os.path.basename(path).removesuffix(".parquet")
            if make is None or table in made or not make(table):
                raise MissingTable(query.name, table, sf_dir) from None
            made.add(table)


def run(spark, sf_dir: str, names: list[str], make=None) -> dict:
    """Build the named registry queries over ``sf_dir``, warm up once, then
    time each as ``.count()``; return the report."""
    import __spark_entry__ as em

    registry = {q.name: q for q in em.REGISTRY}
    frames = {n: _build(spark, sf_dir, registry[n], make) for n in names}
    warm_up(spark)
    report = {}
    query_of: dict[int, str] = {}
    try:
        for name, df in frames.items():
            rows, secs, job_ids, stage_ids = in_job_group(spark, name, df.count)
            query_of.update(dict.fromkeys(stage_ids, name))
            jobs, stages = len(job_ids), len(stage_ids)
            report[name] = {"sec": round(secs, 2), "rows": rows, "jobs": jobs, "stages": stages}
            print(f"stress: {name} {secs:.1f}s rows={rows} jobs={jobs} stages={stages}",
                  file=sys.stderr)
    finally:
        em.release_caches()
    stages = _stage_metrics(spark, query_of)
    hot = sorted(stages, key=lambda s: -(s["shuffle_read_mb"] + s["shuffle_write_mb"]))[:8]
    return {
        "sf_dir": sf_dir,
        "queries": report,
        "peak_shuffle_stages": hot,
        "total_mem_spill_mb": round(sum(s["mem_spill_mb"] for s in stages), 1),
        "total_disk_spill_mb": round(sum(s["disk_spill_mb"] for s in stages), 1),
    }


def _documents(spark, src_dir: str, replicate: int):
    from pyspark.sql import functions as F

    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    return spark.read.parquet(f"{src_dir}/documents.parquet").crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )


def _embeddings(spark, n: int):
    """Dim j of vector i: a zero-mean grid value from portable md5 bits."""
    from pyspark.sql import functions as F

    from posextract_spark.functions.hashing import portable_hash64

    vec_id = F.col("id").cast("string")
    dims = [
        (F.pmod(portable_hash64(F.concat_ws(":", vec_id, F.lit(str(j)))), F.lit(1001)) - 500)
        .cast("double") / 500.0
        for j in range(DIM)
    ]
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*dims).cast("array<float>").alias("embedding")
    )


def main(argv: list[str] | None = None) -> int:
    import __spark_entry__ as em
    from posextract_spark.session import build_session, default_cpus

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--replicate", type=int, default=400)
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("src_dir", metavar="SRC_DIR")
    ap.add_argument("queries", metavar="QUERY", nargs="+")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - {q.name for q in em.REGISTRY})
    if unknown:
        ap.error(f"not registry queries: {', '.join(unknown)}")

    spark = build_session(
        app_name="stress",
        master=f"local[{args.cpus}]",
        shuffle_partitions=4 * args.cpus,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4047"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    load1 = os.getloadavg()[0]
    if not args.skip_gen:
        shutil.rmtree(OUT_DIR, ignore_errors=True)

    def make(table: str) -> bool:
        if table == "documents":
            df = _documents(spark, args.src_dir, args.replicate)
        elif table == "embeddings":
            n_src = spark.read.parquet(f"{args.src_dir}/documents.parquet").count()
            df = _embeddings(spark, n_src * args.replicate)
        else:
            return False
        t0 = time.perf_counter()
        df.repartition(4 * args.cpus).write.mode("overwrite").parquet(f"{OUT_DIR}/{table}.parquet")
        print(f"stress: built {table} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        return True

    try:
        report = run(spark, OUT_DIR, args.queries, make)
    except MissingTable as e:
        print(f"stress: {e}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    print(json.dumps({
        "replicate": args.replicate,
        "cpus": args.cpus,
        "load1_start": round(load1, 2),
        "load1_end": round(os.getloadavg()[0], 2),
        **report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
