"""sf1 stress for the round-6 fusion / truth-discovery family: run the
relation-level KG operators over the ~6M-triple extraction of the 2M-doc
sf1 corpus — the 10x step past the sf0.01 contract scale.

Requires the sf1 documents parquet materialized by tools/stress_sf1.py
(exits with instructions if missing), extracts triples
ONCE to REPO/.localdata/sf1/triples.parquet, then times each operator
against the parquet (real FileScan + AQE), recording wall time plus
per-stage shuffle/spill from the local REST API. Paste the summary into
BENCH/BASELINE.md.

truth_discovery here uses doc_id as the source (1M+ sources): the
per-round claims join against a data-sized trust table is exactly the
path that must NOT assume a broadcastable dimension at 10^12 scale.

Usage: python3 tools/stress_fusion_sf1.py [--rounds 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from posextract_spark.session import default_cpus  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(REPO, ".localdata", "sf1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    args = ap.parse_args()

    from tools.stress_sf1 import _stage_metrics  # shared REST scraper

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-fusion-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4048"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress-fusion: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)

    doc_path = os.path.join(OUT_DIR, "documents.parquet")
    if not os.path.exists(doc_path):
        print("stress-fusion: run tools/stress_sf1.py first (sf1 docs missing)", file=sys.stderr)
        sys.exit(1)

    trip_path = os.path.join(OUT_DIR, "triples.parquet")
    results: dict = {"cpus": args.cpus, "rounds": args.rounds}
    if not os.path.exists(trip_path):
        from posextract_spark.operators.triples import extract_triples

        t0 = time.time()
        docs = spark.read.parquet(doc_path)
        extract_triples(
            docs, text_col="text", id_cols=["doc_id"], provider="svo"
        ).write.mode("overwrite").parquet(trip_path)
        results["triples_materialize_sec"] = round(time.time() - t0, 1)
        print(f"stress-fusion: materialized triples in {results['triples_materialize_sec']}s", file=sys.stderr)

    triples = spark.read.parquet(trip_path).select(
        F.col("doc_id").alias("source"),
        F.col("subject").alias("src"),
        F.col("verb").alias("predicate"),
        F.col("object").alias("dst"),
    )
    results["n_triples"] = triples.count()
    results["n_sources"] = triples.select("source").distinct().count()

    from posextract_spark.operators.fusion import (
        contested_facts,
        fuse_functional_relations,
        predicate_similarity,
        relation_stats,
        truth_discovery,
    )

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 1)
        results[name] = {"sec": dt, "result": out}
        print(f"stress-fusion: {name} {dt}s -> {out}", file=sys.stderr)

    timed("relation_stats", lambda: relation_stats(triples).count())
    timed(
        "fuse_functional",
        lambda: fuse_functional_relations(
            triples, min_functionality_e6=145_000
        ).count(),
    )
    timed("contested_facts", lambda: contested_facts(triples).count())
    timed(
        "predicate_similarity",
        lambda: predicate_similarity(triples, max_pair_fanout=8).count(),
    )
    timed(
        "truth_discovery",
        lambda: truth_discovery(triples, rounds=args.rounds).count(),
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
