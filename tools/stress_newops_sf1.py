"""sf1 (2M-doc) stress pass for the r6-final operators: bootstrapped
quality classifier, bloom vs exact decontamination (direct A/B on the
same inputs), BPE training at 16 merges, and corpus-editing substring
dedup. Reuses the deterministic sf1 table stress_sf1.py materializes.

Usage: python3 tools/stress_newops_sf1.py [--cpus N]
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    args = ap.parse_args()

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-newops-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)
    if not os.path.exists(DOC_PATH):
        sys.exit("run tools/stress_sf1.py first to materialize the sf1 table")
    docs = spark.read.parquet(DOC_PATH)
    n = docs.count()
    print(f"stress: n_docs={n}", file=sys.stderr)

    results: dict = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        dt = round(time.time() - t0, 1)
        results[name] = (dt, out)
        print(f"stress: {name} {dt}s -> {out} (load1={os.getloadavg()[0]:.1f})", file=sys.stderr)

    from posextract_spark.operators.bloom import decontaminate_bloom
    from posextract_spark.operators.classifier import quality_classifier_scores
    from posextract_spark.operators.dedup import strip_duplicate_spans
    from posextract_spark.operators.mldata import bpe_train, decontaminate

    ev = docs.filter(F.col("doc_id") % 29 == 0)

    timed(
        "quality_classifier_scores",
        lambda: quality_classifier_scores(docs).agg(
            F.sum("pred_keep"), F.count(F.lit(1))
        ).collect()[0][0],
    )
    timed(
        "decontaminate_exact",
        lambda: decontaminate(docs, ev).count(),
    )
    # blocked bloom sized for the eval shingle cardinality (~1.3x the
    # classic 1%-fpp bits to cover block-load variance; k capped at 5)
    timed(
        "decontaminate_bloom",
        lambda: decontaminate_bloom(docs, ev, m_bits=63 * 650000, k=5).count(),
    )
    timed(
        "bpe_train_16_merges",
        lambda: bpe_train(docs, n_merges=16).count(),
    )
    timed(
        "strip_duplicate_spans",
        lambda: strip_duplicate_spans(docs).agg(
            F.sum("n_removed"), F.sum("n_tokens")
        ).collect()[0][0],
    )

    # late-r6 additions at the same 2M-doc scale
    from posextract_spark.operators.sketches import cms_build
    from posextract_spark.operators.similarity import hash_embed, hash_embed_idf
    from posextract_spark.operators.textops import corpus_length_quantiles

    timed(
        "corpus_length_quantiles",
        lambda: corpus_length_quantiles(docs).collect()[0]["p99_len"],
    )
    timed(
        "cms_build_4x1024",
        lambda: cms_build(docs, width=1024, depth=4).count(),
    )
    timed(
        "hash_embed_dim32",
        lambda: hash_embed(docs, dim=32).agg(F.sum("n_tokens")).collect()[0][0],
    )
    timed(
        "hash_embed_idf_dim32",
        lambda: hash_embed_idf(docs, dim=32).agg(F.sum("n_tokens")).collect()[0][0],
    )

    print("\n=== summary (paste into BENCH/BASELINE.md) ===")
    for k, (dt, out) in results.items():
        print(f"{k}: {dt}s -> {out}")


if __name__ == "__main__":
    main()
