"""sf1 stress for the late-r7 contamination/semdedup additions:
contaminated_token_fraction (fuzzy token-coverage decontamination) and
neardup_contamination at 2M docs, bpe_fertility_stats' vocab-bounded
chain at 2M docs, and semdedup_survivors at 200k x 64-dim vectors with
a trained k=256 quantizer (the literal-centroid argmax's practical k
ceiling — see the operator docstring's broadcast-join note for beyond).

Reuses the deterministic sf1 tables stress_sf1.py / stress_r7_sf1.py
materialize. Usage: python3 tools/stress_contamination_sf1.py [--cpus N]
Paste the summary into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from posextract_spark.session import default_cpus  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC_PATH = os.path.join(REPO, ".localdata", "sf1", "documents.parquet")
EMB_PATH = os.path.join(REPO, ".localdata", "sf1", "embeddings.parquet")

# 8 merges over the sf1 vocabulary (same shape as the contract list)
MERGES = [
    ("e", "r"), ("er", "e"), ("t", "h"), ("th", "e"),
    ("a", "t"), ("i", "n"), ("s", "t"), ("o", "r"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    ap.add_argument("--semdedup-n", type=int, default=200_000)
    ap.add_argument("--semdedup-k", type=int, default=256)
    args = ap.parse_args()

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-contamination-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)
    for p in (DOC_PATH, EMB_PATH):
        if not os.path.exists(p):
            sys.exit(f"missing {p}: run tools/stress_sf1.py / stress_r7_sf1.py first")
    docs = spark.read.parquet(DOC_PATH)
    print(f"stress: n_docs={docs.count()}", file=sys.stderr)

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 1)
        print(
            f"stress: {name} {dt}s -> {out} (load1={os.getloadavg()[0]:.1f})",
            file=sys.stderr,
        )

    # tiny eval suite (~200 docs), the realistic decontamination regime;
    # NB the sf1 corpus is ~1000x template-replicated, so every replica of
    # an eval template is fully covered -> this is the WORST-CASE match
    # volume for the coverage union, not a light probe
    ev = docs.filter(F.col("doc_id") % 9973 == 0)

    from posextract_spark.operators.mldata import (
        bpe_fertility_stats,
        contaminated_token_fraction,
    )

    timed(
        "contaminated_token_fraction_2m",
        lambda: contaminated_token_fraction(docs, ev)
        .agg(
            F.count(F.lit(1)).alias("n_contaminated_docs"),
            F.sum((F.col("frac_e6") >= 500000).cast("int")).alias("n_over_half"),
        )
        .collect()[0]
        .asDict(),
    )

    from posextract_spark.operators.dedup import neardup_contamination

    timed(
        "neardup_contamination_2m",
        lambda: neardup_contamination(
            docs.filter(F.col("doc_id") % 9973 != 0), ev
        ).count(),
    )

    timed(
        "bpe_fertility_stats_2m",
        lambda: len(bpe_fertility_stats(docs, MERGES).collect()),
    )

    from posextract_spark.operators.similarity import (
        kmeans_centroids,
        semdedup_survivors,
    )

    emb = (
        spark.read.parquet(EMB_PATH)
        .filter(F.col("vec_id") < args.semdedup_n)
        .localCheckpoint(eager=True)
    )
    cents = {}
    timed(
        f"kmeans_k{args.semdedup_k}_train_{args.semdedup_n // 1000}k",
        lambda: cents.setdefault(
            "c", kmeans_centroids(emb, k=args.semdedup_k, n_iter=1)
        )
        and args.semdedup_k,
    )
    timed(
        f"semdedup_survivors_{args.semdedup_n // 1000}k_k{args.semdedup_k}",
        lambda: semdedup_survivors(
            emb, threshold_e6=400000, centroids=cents["c"]
        ).count(),
    )
    spark.stop()


if __name__ == "__main__":
    main()
