"""sf1 stress run (VERDICT r5 item 6): one 2M-doc pass of the headline
extraction, minhash dedup survivors, and decontamination — the 10x step
toward the 100 TB design point that sf0.1 can't see.

Materializes a deterministic sf1 documents table (sf0.1 replicated 400x
with remapped ids) to REPO/.localdata/sf1/documents.parquet, then runs
each stage against the PARQUET (real FileScan + pushdown + AQE, not an
in-memory crossJoin), recording wall time plus per-stage shuffle
read/write and memory/disk spill from the local REST API. Paste the
summary into BENCH/BASELINE.md.

Usage: python3 tools/stress_sf1.py [--replicate 400] [--skip-gen]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from posextract_spark.session import default_cpus  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".localdata", "sf1")


def _stage_metrics(spark) -> list[dict]:
    """All completed stages from the local UI REST API (shuffle + spill)."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        return []
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages?status=complete") as r:
            stages = json.load(r)
    except Exception as e:  # UI disabled or port clash — metrics are best-effort
        print(f"stress: REST metrics unavailable: {e}", file=sys.stderr)
        return []
    return [
        {
            "stage": s["stageId"],
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicate", type=int, default=400)
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    ap.add_argument("--skip-gen", action="store_true")
    args = ap.parse_args()

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4047"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)

    doc_path = os.path.join(OUT_DIR, "documents.parquet")
    if not args.skip_gen or not os.path.exists(doc_path):
        t0 = time.time()
        raw = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(args.replicate).select(F.col("id").alias("rep"))
        sf1 = (
            raw.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") * args.replicate + F.col("rep")).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
            .repartition(128)
        )
        sf1.write.mode("overwrite").parquet(doc_path)
        print(f"stress: generated sf1 in {time.time()-t0:.1f}s", file=sys.stderr)

    docs = spark.read.parquet(doc_path)
    results: dict = {"replicate": args.replicate, "cpus": args.cpus}
    results["n_docs"] = docs.count()

    from posextract_spark.operators.dedup import minhash_dedup_survivors
    from posextract_spark.operators.mldata import decontaminate
    from posextract_spark.operators.triples import extract_triples

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 1)
        results[name] = {"sec": dt, "result": out}
        print(f"stress: {name} {dt}s -> {out}", file=sys.stderr)

    # warmup python workers across all cores (same rationale as bench.py)
    extract_triples(
        docs.limit(50000).repartition(args.cpus * 2),
        text_col="text", id_cols=["doc_id"], provider="svo",
    ).count()

    timed(
        "triples_extract",
        lambda: extract_triples(
            docs, text_col="text", id_cols=["doc_id"], provider="svo"
        ).count(),
    )
    results["triples_per_sec"] = round(
        results["triples_extract"]["result"] / results["triples_extract"]["sec"], 1
    )
    results["docs_per_sec"] = round(results["n_docs"] / results["triples_extract"]["sec"], 1)

    timed(
        "minhash_dedup_survivors",
        lambda: minhash_dedup_survivors(docs).filter(F.col("is_survivor") == 1).count(),
    )
    timed(
        "decontaminate",
        lambda: decontaminate(docs, docs.filter(F.col("doc_id") % 29 == 0)).count(),
    )

    # r6 operators at the same 2M-doc scale
    from posextract_spark.operators.dedup import minhash_dedup_against_base
    from posextract_spark.operators.mldata import shuffle_shards
    from posextract_spark.operators.textops import dedup_paragraphs_global

    timed(
        "dedup_paragraphs_global",
        lambda: dedup_paragraphs_global(docs).agg(F.sum("n_dropped")).collect()[0][0],
    )
    timed(
        "minhash_dedup_against_base",
        lambda: minhash_dedup_against_base(
            docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
        )
        .agg(F.sum("is_new"))
        .collect()[0][0],
    )
    timed(
        "shuffle_shards",
        lambda: shuffle_shards(docs, n_shards=256).agg(F.max("pos")).collect()[0][0],
    )

    stages = _stage_metrics(spark)
    hot = sorted(stages, key=lambda s: -(s["shuffle_read_mb"] + s["shuffle_write_mb"]))[:8]
    results["peak_shuffle_stages"] = hot
    results["total_mem_spill_mb"] = round(sum(s["mem_spill_mb"] for s in stages), 1)
    results["total_disk_spill_mb"] = round(sum(s["disk_spill_mb"] for s in stages), 1)
    results["load1_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
