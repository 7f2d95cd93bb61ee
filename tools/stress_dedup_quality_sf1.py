"""sf1 (2M docs) stress for the dedup-quality family added late in r7:
proves the audit path is BOUNDED at scale the way its docstrings claim.

  * minhash_pair_quality on a deterministic 1/200 doc hash-sample
    (~10k docs) — the production recall-audit configuration: truth pairs
    come from the SAMPLE (recall estimation needs a sample of true
    pairs, not all of them).
  * ngram_jaccard_pairs corpus-wide BEHIND the max_shingle_bucket cap —
    the capped exact-audit pass; the cap turns the quadratic
    hot-shingle join into O(cap^2) per shingle.
  * minhash_band_pairs corpus-wide with max_bucket_width (for contrast:
    the LSH candidate listing is near-linear at the same scale).

Reuses the sf1 documents table stress_sf1.py materializes.
Usage: python3 tools/stress_dedup_quality_sf1.py [--cpus N]
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    args = ap.parse_args()

    from posextract_spark.functions.hashing import portable_hash64
    from posextract_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_pair_quality,
        ngram_jaccard_pairs,
    )
    from posextract_spark.session import build_session

    spark = build_session(master=f"local[{args.cpus}]")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * args.cpus))
    if not os.path.exists(DOC_PATH):
        print("materialize sf1 docs first: python3 tools/stress_sf1.py")
        return
    docs = spark.read.parquet(DOC_PATH).select("doc_id", "text")
    n = docs.count()
    print(f"sf1 docs: {n}")

    print("\n== pair-quality audit on a 1/200 hash-sample ==")
    sample = docs.filter(
        F.pmod(portable_hash64(F.col("doc_id").cast("string")), F.lit(200)) == 0
    ).persist()
    ns = sample.count()
    t0 = time.time()
    rows = minhash_pair_quality(sample).orderBy("thr_e6").collect()
    wall = time.time() - t0
    print(f"sample docs: {ns}; wall {wall:.1f}s")
    for r in rows:
        print(
            f"  J>={r.thr_e6/1e6:.1f}: true={r.n_true} caught={r.n_caught} "
            f"cand={r.n_cand} recall={r.recall_e6/1e6:.3f} precision={r.precision_e6/1e6:.3f}"
        )
    sample.unpersist()

    print("\n== capped exact-Jaccard audit, corpus-wide (max_shingle_bucket=16) ==")
    t0 = time.time()
    nj = ngram_jaccard_pairs(docs, min_jaccard_e6=500000, max_shingle_bucket=16).count()
    print(f"pairs (J>=0.5, capped): {nj}; wall {time.time()-t0:.1f}s")

    print("\n== LSH candidate listing, corpus-wide (max_bucket_width=16) ==")
    t0 = time.time()
    nb = minhash_band_pairs(docs, max_bucket_width=16).count()
    print(f"candidate pairs (capped): {nb}; wall {time.time()-t0:.1f}s")

    spark.stop()


if __name__ == "__main__":
    main()
