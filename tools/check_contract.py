"""Local correctness gate over the whole contract.

Runs every row of __spark_entry__.REGISTRY at a given SF, each in its own
Spark job group, and compares row count, column names, and an
order-insensitive value hash against the row's oracle SQL via DuckDB. Each
line reports the query's wall time and the Spark jobs and stages it ran.

Jobs gate: at the SF recorded in tests/goldens/contract_jobs.json (sf0.01)
a query FAILs when it runs more jobs than its baseline plus JOBS_JITTER
(AQE's run-time choices move a query by one job between identical runs).
Jobs are a perf signal without the wall-clock noise: every materialization,
probe and AQE query stage is one. A change that adds jobs on purpose
re-records the baseline with --write-jobs and says so.

Usage: python3 tools/check_contract.py [--write-jobs] [SF_DIR] [QUERY ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stress import in_job_group, warm_up  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JOBS_BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens", "contract_jobs.json"
)
JOBS_JITTER = 1


def load_jobs_baseline(sf_dir: str) -> dict[str, int]:
    """The per-query jobs baseline, or {} when it was recorded at another SF."""
    with open(JOBS_BASELINE) as f:
        rec = json.load(f)
    if rec["sf"] != os.path.basename(os.path.normpath(sf_dir)):
        return {}
    return rec["jobs"]


def value_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in row))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    # STRICT stringification — deliberately NO float->int collapse: the
    # driver's hasher stringifies raw values, so a DuckDB HUGEINT that
    # pandas-ifies to float64 ('5695.0') must FAIL here against Spark's
    # int64 ('5695'), exactly as it fails in the driver (r2 lesson:
    # events_by_type_day / revenue_by_nation, CORRECTNESS_r02.json).
    if v is None or v != v:
        return ""
    return str(v)


def dtypes_match(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    """Per-column pandas-dtype equality after name sort. Catches divergent
    pandas-ification (HUGEINT->float64, DATE->datetime64 vs object) even
    when the stringified values happen to collide."""
    mism = []
    for c in sorted(sdf.columns):
        st, ot = str(sdf[c].dtype), str(odf[c].dtype)
        if st != ot:
            mism.append(f"{c}: spark={st} oracle={ot}")
    return (not mism, "; ".join(mism))


def _streaming_batch_equivalence(spark) -> tuple[bool, str]:
    """Run the foreachBatch streaming pipeline (availableNow) and the plain
    batch pipeline over the SAME generated pages corpus; compare the triple
    sets with the gate's order-insensitive value hash. Exactly-once is what
    this regression-gates: a sink that appended instead of overwriting its
    batch_id partition, or a replayed micro-batch, shows up as extra rows."""
    import shutil
    import tempfile

    from posextract_spark.pipeline import pages_to_triples
    from posextract_spark.sources.pages import generate_pages
    from posextract_spark.streaming import stream_pages_to_triples

    root = tempfile.mkdtemp(prefix="gate_stream_")
    try:
        src, ckpt, out = f"{root}/src", f"{root}/ckpt", f"{root}/out"
        # two writes -> multiple files, so availableNow runs >1 micro-batch
        generate_pages(spark, 30, seed=11, n_partitions=2).write.mode("append").parquet(src)
        generate_pages(spark, 30, seed=12, n_partitions=2).write.mode("append").parquet(src)

        q = stream_pages_to_triples(spark, src, ckpt, out, provider="template")
        try:
            if not q.awaitTermination(300):
                # availableNow should drain and stop well inside the timeout;
                # a hang would otherwise read partial output below and then
                # rmtree the source/checkpoint under a live query
                return False, "stream did not terminate within 300s"
        finally:
            q.stop()

        streamed = spark.read.parquet(out).drop("batch_id").toPandas()
        batch = pages_to_triples(
            spark.read.parquet(src), provider="template"
        ).toPandas()
        ok_rows = len(streamed) == len(batch)
        ok_cols = sorted(streamed.columns) == sorted(batch.columns)
        ok_hash = (
            value_hash(streamed) == value_hash(batch) if ok_rows and ok_cols else False
        )
        return (
            ok_rows and ok_cols and ok_hash,
            f"rows={len(streamed)}/{len(batch)} cols_ok={ok_cols} hash_ok={ok_hash}",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main(sf_dir: str, only: list[str], write_jobs: bool = False) -> int:
    import __spark_entry__ as entry_mod
    from posextract_spark.session import build_session

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = build_session(app_name="contract-check")
    # warm BEFORE any timing: the first query would otherwise pay the
    # worker spawn and be flagged SLOW whatever its plan
    warm_up(spark)

    failures = 0
    spark_secs: dict[str, float] = {}
    n_jobs = n_stages = 0
    baseline = {} if write_jobs else load_jobs_baseline(sf_dir)
    measured: dict[str, int] = {}

    for q in entry_mod.REGISTRY:
        if only and q.name not in only:
            continue
        name = q.name
        sdf, secs, job_ids, stage_ids = in_job_group(
            spark, name, lambda: q.build(spark, sf_dir).toPandas()
        )
        jobs, stages = len(job_ids), len(stage_ids)
        measured[name] = jobs
        spark_secs[name] = secs
        n_jobs += jobs
        n_stages += stages
        odf = con.execute(q.oracle()).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = value_hash(sdf) == value_hash(odf) if ok_rows and ok_cols else False
        ok_dtypes, dtype_msg = dtypes_match(sdf, odf) if ok_cols else (False, "cols differ")
        ok_jobs = name not in baseline or jobs <= baseline[name] + JOBS_JITTER
        status = "OK" if (ok_rows and ok_cols and ok_hash and ok_dtypes and ok_jobs) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name}: {status} rows={len(sdf)}/{len(odf)} cols_ok={ok_cols} "
            f"hash_ok={ok_hash} dtypes_ok={ok_dtypes} ({secs:.1f}s, {jobs} jobs, {stages} stages)"
        )
        if not ok_jobs:
            print(f"  jobs over baseline: {jobs} > {baseline[name]} + {JOBS_JITTER}")
        if not ok_dtypes and ok_cols:
            print(f"  dtype mismatch: {dtype_msg}")
        if not (ok_rows and ok_hash) and ok_cols:
            s = sdf.reindex(sorted(sdf.columns), axis=1)
            o = odf.reindex(sorted(odf.columns), axis=1)
            print("  spark sample:", s.sort_values(list(s.columns)).head(3).to_dict("records"))
            print("  oracle sample:", o.sort_values(list(o.columns)).head(3).to_dict("records"))

    # Streaming batch-equivalence (VERDICT r4 item 6): the streaming
    # surface was pytest-only; the strict gate now also proves that the
    # foreachBatch pipeline (exactly-once batch_id-overwrite sink) emits
    # EXACTLY the rows the batch pipeline computes on the same input —
    # row count + order-insensitive value hash, same comparator as the
    # oracle rows. Selectable as 'streaming_batch_equivalence'.
    if not only or "streaming_batch_equivalence" in only:
        t0 = time.time()
        try:
            ok, detail = _streaming_batch_equivalence(spark)
        except Exception as e:  # a crashed stream must FAIL the gate, not skip it
            ok, detail = False, f"raised {type(e).__name__}: {e}"
        spark_secs["streaming_batch_equivalence"] = time.time() - t0
        if not ok:
            failures += 1
        print(
            f"streaming_batch_equivalence: {'OK' if ok else 'FAIL'} {detail} "
            f"({spark_secs['streaming_batch_equivalence']:.1f}s)"
        )

    entry_mod.release_caches()  # free the shared persisted triples frame
    spark.stop()

    if write_jobs:
        # a partial run (QUERY ...) re-records only the queries it ran
        jobs = {**load_jobs_baseline(sf_dir), **measured}
        rec = {"sf": os.path.basename(os.path.normpath(sf_dir)), "jobs": jobs}
        with open(JOBS_BASELINE, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(measured)} of {len(jobs)} query job counts to {JOBS_BASELINE}")

    # Per-query wall-time table, slowest first (Spark side only — the
    # DuckDB oracle is not the engine under test). The r3 50s-per-run
    # corpus_quality_filter plan defect was invisible in the smoke's
    # pass/fail output and only surfaced in the driver's bench
    # (VERDICT r3 item 5); >5s at smoke scale now flags loudly.
    # streaming_batch_equivalence is exempt from the SLOW flag: it runs
    # the pipeline TWICE (stream + batch) plus stream startup, so ~9s is
    # its floor, not a plan defect
    _slow_exempt = {"streaming_batch_equivalence"}
    print(f"\ncontract queries: {n_jobs} jobs, {n_stages} stages")
    print("per-query Spark wall-times (slowest first):")
    for name, dt in sorted(spark_secs.items(), key=lambda kv: -kv[1]):
        flag = "  << SLOW (>5s) — check the plan" if dt > 5.0 and name not in _slow_exempt else ""
        print(f"  {dt:6.1f}s  {name}{flag}")
    slow = [n for n, dt in spark_secs.items() if dt > 5.0 and n not in _slow_exempt]
    if slow:
        print(f"SLOW QUERIES: {len(slow)} over 5s: {', '.join(slow)}")
    return failures


if __name__ == "__main__":
    write_jobs = "--write-jobs" in sys.argv
    if write_jobs:
        sys.argv.remove("--write-jobs")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    sys.exit(1 if main(sf_dir, only, write_jobs) else 0)
