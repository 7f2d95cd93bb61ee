"""sf1 stress for the round-6 LM/sketch/closure families: n-gram count
table, LM familiarity, KMV distinct sketch, entity type profile, and
transitive closure at the 2M-doc scale sf0.1 can't see.

Reuses (or regenerates) the deterministic sf1 documents parquet from
tools/stress_sf1.py. Closure runs over a synthetic 2M-node chain graph
with skip edges — output ~= n_nodes * max_depth rows, the shape a deep
category hierarchy produces. Paste the JSON summary into
BENCH/BASELINE.md.

Usage: python3 tools/stress_lm_sf1.py [--replicate 400] [--cpus N]
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
from tools.stress_sf1 import OUT_DIR, _stage_metrics  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicate", type=int, default=400)
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    args = ap.parse_args()

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-lm-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4048"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)

    doc_path = os.path.join(OUT_DIR, "documents.parquet")
    if not os.path.exists(doc_path):
        t0 = time.time()
        raw = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(args.replicate).select(F.col("id").alias("rep"))
        sf1 = (
            raw.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") * args.replicate + F.col("rep")).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
            .repartition(128)
        )
        sf1.write.mode("overwrite").parquet(doc_path)
        print(f"stress: generated sf1 in {time.time()-t0:.1f}s", file=sys.stderr)

    docs = spark.read.parquet(doc_path)
    results: dict = {"replicate": args.replicate, "cpus": args.cpus}
    results["n_docs"] = docs.count()

    from posextract_spark.operators.fusion import entity_type_profile
    from posextract_spark.operators.graph_analytics import transitive_closure
    from posextract_spark.operators.sketches import distinct_kmv
    from posextract_spark.operators.textops import lm_familiarity, ngram_counts

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 1)
        results[name] = {"sec": dt, "result": out}
        print(f"stress: {name} {dt}s -> {out}", file=sys.stderr)

    timed(
        "ngram_counts_n3",
        lambda: ngram_counts(docs, n=3, min_count=3).count(),
    )
    timed(
        "lm_familiarity_n2",
        lambda: lm_familiarity(docs, n=2).agg(F.sum("familiarity")).collect()[0][0],
    )
    timed(
        "distinct_kmv_text_by_source",
        lambda: sorted(
            (r["source"], r["est_distinct"])
            for r in distinct_kmv(docs, "source", "text", k=256).collect()
        )[:3],
    )
    # 200k entities x 2M facts, Zipf-free synthetic predicate edges
    typed = docs.select(
        (F.col("doc_id") % 200_000).alias("src"),
        F.col("lang").alias("predicate"),
        (F.col("doc_id") % 997).cast("string").alias("dst"),
    )
    timed(
        "entity_type_profile_200k",
        lambda: entity_type_profile(typed).count(),
    )
    # 2M-node chain + 10% skip edges: closure output ~ n * max_depth
    n_nodes = results["n_docs"]
    ids = docs.select(F.col("doc_id").alias("src"))
    chain = ids.select("src", (F.col("src") + 1).alias("dst")).filter(
        F.col("dst") < n_nodes
    )
    skips = ids.filter(F.col("src") % 10 == 0).select(
        "src", (F.col("src") + 17).alias("dst")
    ).filter(F.col("dst") < n_nodes)
    timed(
        "transitive_closure_2M_chain_d8",
        lambda: transitive_closure(chain.unionAll(skips), max_depth=8).count(),
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
