"""sf1 stress pass for the r7 additions: the two end-to-end curation
pipeline configurations (heuristic+exact vs classifier+bloom — the
VERDICT r6 item 6 crossover measurement), BPE-budgeted packing, and the
trained-PQ / IVF-PQ index at 2M vectors.

Reuses the deterministic sf1 documents table stress_sf1.py materializes;
synthesizes a deterministic 2M x 64 embeddings table on first run
(hash-derived floats, scan-side, no external data).

Usage: python3 tools/stress_r7_sf1.py [--cpus N] [--skip-pipelines]
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
N_EMB = 2_000_000
DIM = 64


def _materialize_embeddings(spark) -> None:
    """Deterministic 2M x 64 embeddings: dim j of vector i = a zero-mean
    integer grid value derived from portable md5 bits — same
    no-external-data rule as the documents table."""
    from posextract_spark.functions.hashing import portable_hash64

    if os.path.exists(EMB_PATH):
        return
    base = spark.range(N_EMB).select(F.col("id").alias("vec_id"))
    dims = [
        (
            (
                F.pmod(
                    portable_hash64(F.concat_ws(":", F.col("vec_id").cast("string"), F.lit(str(j)))),
                    F.lit(1001),
                )
                - F.lit(500)
            ).cast("double")
            / F.lit(500.0)
        ).alias(f"d{j}")
        for j in range(DIM)
    ]
    emb = base.select("vec_id", F.array(*dims).alias("embedding"))
    emb.repartition(64).write.mode("overwrite").parquet(EMB_PATH)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(default_cpus()))
    ap.add_argument("--skip-pipelines", action="store_true")
    args = ap.parse_args()

    from posextract_spark.session import build_session

    spark = build_session(
        app_name="stress-r7-sf1",
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
        print(
            f"stress: {name} {dt}s -> {out} (load1={os.getloadavg()[0]:.1f})",
            file=sys.stderr,
        )

    # --- pipeline configurations (exact/heuristic vs bloom/classifier) ----
    if not args.skip_pipelines:
        from posextract_spark.operators.bloom import decontaminate_bloom
        from posextract_spark.operators.classifier import quality_classifier_scores
        from posextract_spark.operators.dedup import minhash_dedup_survivors
        from posextract_spark.operators.mldata import decontaminate, hash_split
        from posextract_spark.operators.textops import corpus_quality_filter

        ev = docs.filter(F.col("doc_id") % 29 == 0)

        def pipeline(keep_ids, decont):
            kept_docs = docs.join(keep_ids, "doc_id")
            surv = (
                minhash_dedup_survivors(kept_docs)
                .filter(F.col("is_survivor") == 1)
                .select("doc_id")
            )
            clean_docs = kept_docs.join(surv, "doc_id")
            contaminated = decont(clean_docs).select("doc_id")
            final = clean_docs.join(contaminated, "doc_id", "anti")
            return hash_split(final.select("doc_id")).count()

        timed(
            "pipeline_exact_heuristic",
            lambda: pipeline(
                corpus_quality_filter(docs).filter(F.col("keep") == 1).select("doc_id"),
                lambda d: decontaminate(d, ev),
            ),
        )
        # bloom sized for the sf1 eval shingle cardinality (same rule as
        # stress_newops_sf1.py's standalone A/B)
        timed(
            "pipeline_bloom_classifier",
            lambda: pipeline(
                quality_classifier_scores(docs)
                .filter(F.col("pred_keep") == 1)
                .select("doc_id"),
                lambda d: decontaminate_bloom(d, ev, m_bits=63 * 650000, k=5),
            ),
        )

    # --- BPE-budgeted packing ---------------------------------------------
    from posextract_spark.operators.mldata import pack_bpe_sequence_spans

    merges = [
        ("e", "r"), ("t", "h"), ("th", "e"), ("a", "n"),
        ("i", "n"), ("o", "n"), ("e", "n"), ("a", "t"),
    ]
    timed(
        "pack_bpe_sequence_spans",
        lambda: pack_bpe_sequence_spans(docs, merges, budget=2048).count(),
    )

    # --- trained PQ / IVF-PQ at 2M vectors --------------------------------
    _materialize_embeddings(spark)
    emb = spark.read.parquet(EMB_PATH)
    print(f"stress: n_vecs={emb.count()}", file=sys.stderr)

    from posextract_spark.operators.similarity import (
        ivf_pq_topk,
        kmeans_centroids,
        pq_codebooks_kmeans,
        pq_encode,
    )

    holder: dict = {}
    timed(
        "kmeans_centroids_2iter",
        lambda: holder.setdefault("cents", kmeans_centroids(emb, n_iter=2)) and "ok",
    )
    timed(
        "pq_codebooks_kmeans_2iter",
        lambda: holder.setdefault("books", pq_codebooks_kmeans(emb, n_iter=2)) and "ok",
    )
    timed(
        "pq_encode_trained",
        lambda: pq_encode(emb, codebooks=holder["books"]).agg(F.sum("sim_e6")).collect()[0][0],
    )
    timed(
        "ivf_pq_topk_refine",
        lambda: [
            tuple(r)
            for r in ivf_pq_topk(
                emb,
                query_id=0,
                k=10,
                nprobe=2,
                centroids=holder["cents"],
                codebooks=holder["books"],
                refine=100,
            ).collect()
        ][:3],
    )

    print("\n=== summary (paste into BENCH/BASELINE.md) ===")
    for k, (dt, out) in results.items():
        print(f"{k}: {dt}s -> {out}")


if __name__ == "__main__":
    main()
