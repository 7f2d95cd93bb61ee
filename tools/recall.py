"""ANN retrieval-quality harness (VERDICT r6 item 1): recall@k of every
approximate index in the engine vs brute-force ground truth, written to
RECALL.md — the retrieval-family analogue of DIFFERENTIAL.md.

Families measured (sf0.01 embeddings / documents unless --sf):
  * IVF            — id-slice and k-means-trained coarse quantizers,
                     nprobe sweep (vectorized ann_recall_ivf, Q=20)
  * PQ-ADC         — full-corpus asymmetric-distance ranking, id-slice and
                     k-means-trained codebooks (Q=10 query loop)
  * IVF-PQ         — composed index (coarse probe + ADC re-rank), both
                     quantizer variants, nprobe sweep
  * LSH            — search restricted to the query's sign-random-projection
                     bucket, exact cosine re-rank inside it (+ scan fraction)
  * hash_embed     — SRP text embeddings vs EXACT bag-of-words cosine
                     ground truth over the documents table (dim sweep)

This is an offline evaluation harness: the per-query loops are bounded by
the query-sample size (they call the same single-query operators a user
calls), and the vectorized IVF arm is the ann_recall_ivf contract query.

Usage: python3 tools/recall.py [--sf /root/testdata/sf0.01] [--out RECALL.md]
"""
import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def recall_loop(ground, search_fn, qids, k):
    """Mean recall@k over qids: search_fn(qid) -> list of ids."""
    hits = 0
    for q in qids:
        got = set(search_fn(q))
        hits += len(got & ground[q])
    return hits / (len(qids) * k)


def brute_truth(emb, qids, k):
    from posextract_spark.operators.similarity import cosine_topk

    qvecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.filter(F.col("vec_id").isin(list(qids))).collect()
    }
    return {
        q: {int(r[0]) for r in cosine_topk(emb, qvecs[q], k=k).collect()}
        for q in qids
    }


def lsh_recall(emb, ground, qids, k, n_planes):
    """Exact cosine re-rank restricted to the query's LSH bucket; returns
    (mean recall, mean scanned fraction)."""
    from posextract_spark.operators.similarity import lsh_bucket

    b = lsh_bucket(emb, n_planes=n_planes)
    buckets = {int(r[0]): int(r[1]) for r in b.collect()}
    n = len(buckets)
    by_bucket: dict = {}
    for vid, bk in buckets.items():
        by_bucket.setdefault(bk, set()).add(vid)
    qvecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.filter(F.col("vec_id").isin(list(qids))).collect()
    }
    from posextract_spark.operators.similarity import cosine_topk

    hits, scanned = 0, 0
    for q in qids:
        cand = by_bucket[buckets[q]]
        scanned += len(cand)
        top = cosine_topk(
            emb.filter(F.col("vec_id").isin(list(cand))), qvecs[q], k=k
        ).collect()
        hits += len({int(r[0]) for r in top} & ground[q])
    return hits / (len(qids) * k), scanned / (len(qids) * n)


def bow_truth(docs, qids, k):
    """Exact bag-of-words cosine top-k per query doc (the signal hash_embed
    approximates): same word_array tokenizer, integer tf vectors."""
    from posextract_spark.functions.hashing import word_array

    tf = (
        docs.select(
            "doc_id", F.explode(word_array(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf.cache()
    norms = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("norm")
    )
    out = {}
    for q in qids:
        qtf = tf.filter(F.col("doc_id") == q).select(
            "tok", F.col("tf").alias("qtf")
        )
        qn = norms.filter(F.col("doc_id") == q).head()[1]
        dots = (
            tf.join(F.broadcast(qtf), "tok")
            .groupBy("doc_id")
            .agg(F.sum(F.col("tf") * F.col("qtf")).alias("dot"))
        )
        sims = dots.join(norms, "doc_id").select(
            "doc_id",
            (F.col("dot") / (F.col("norm") * F.lit(float(qn)))).alias("cos"),
        )
        top = sims.orderBy(F.desc("cos"), F.col("doc_id")).limit(k).collect()
        out[q] = {int(r[0]) for r in top}
    tf.unpersist()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="RECALL.md")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from posextract_spark.operators.similarity import (
        IVF_K,
        PQ_KSUB,
        PQ_M,
        _pq_codebooks,
        ann_recall_ivf,
        hash_embed_topk,
        ivf_pq_topk,
        kmeans_centroids,
        pq_adc_topk,
        pq_codebooks_kmeans,
    )
    from posextract_spark.session import build_session

    spark = build_session(app_name="recall", master="local[8]", shuffle_partitions=8)
    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    n_vecs, n_docs, k = emb.count(), docs.count(), args.k
    t0 = time.time()
    lines = [
        "# RECALL — ANN retrieval quality vs brute-force ground truth",
        "",
        f"Corpus: `{args.sf}` ({n_vecs} embeddings, {n_docs} documents); "
        f"k = {k}; regenerate with `python3 tools/recall.py`.",
        "",
        "Ground truth: exact fixed-point cosine top-k (`cosine_topk`) for the",
        "embedding indexes; exact bag-of-words cosine top-k (same word_array",
        "tokenizer) for hash_embed. recall@k = |index_topk ∩ exact_topk| / (Q·k),",
        "averaged over the Q smallest-id queries. The IVF arm is also the",
        "oracle-checked contract query `ann_recall_ivf`.",
        "",
    ]

    # --- IVF (vectorized, Q=20) ---------------------------------------------
    cents_km = kmeans_centroids(emb, n_iter=2)
    lines += [
        f"## IVF (n_centroids = {IVF_K}, Q = 20)",
        "",
        "| quantizer | nprobe=1 | nprobe=2 | nprobe=4 | nprobe=8 (full) |",
        "|---|---|---|---|---|",
    ]
    for label, cents in (("id-slice init", None), ("k-means (2 iter)", cents_km)):
        r = {
            int(row[0]): int(row[2]) / 100
            for row in ann_recall_ivf(
                emb, n_queries=20, k=k, nprobes=(1, 2, 4, 8), centroids=cents
            ).collect()
        }
        lines.append(
            f"| {label} | {r[1]:.2f} | {r[2]:.2f} | {r[4]:.2f} | {r[8]:.2f} |"
        )
    print("IVF done", time.time() - t0, flush=True)

    # --- PQ-ADC and IVF-PQ (Q=10 loop) --------------------------------------
    qids = list(range(10))
    ground = brute_truth(emb, qids, k)
    books_init = _pq_codebooks(emb, PQ_M, PQ_KSUB, "vec_id", "embedding")
    books_km = pq_codebooks_kmeans(emb, n_iter=2)
    lines += [
        "",
        f"## PQ (m = {PQ_M}, k_sub = {PQ_KSUB}, Q = 10)",
        "",
        "PQ-ADC ranks the FULL corpus by quantized codes (the compression",
        "half); IVF-PQ composes the coarse probe with ADC re-rank.",
        "",
        "| index | codebooks | recall@10 |",
        "|---|---|---|",
    ]
    for label, books in (("id-slice init", books_init), ("k-means (2 iter)", books_km)):
        r = recall_loop(
            ground,
            lambda q, b=books: [
                int(x[0]) for x in pq_adc_topk(emb, query_id=q, k=k, codebooks=b).collect()
            ],
            qids,
            k,
        )
        lines.append(f"| PQ-ADC (full corpus) | {label} | {r:.2f} |")
    print("PQ-ADC done", time.time() - t0, flush=True)
    for label, cents, books in (
        ("id-slice init", None, books_init),
        ("k-means (2 iter)", cents_km, books_km),
    ):
        for nprobe in (1, 2, 4):
            r = recall_loop(
                ground,
                lambda q, c=cents, b=books, p=nprobe: [
                    int(x[0])
                    for x in ivf_pq_topk(
                        emb, query_id=q, k=k, nprobe=p, centroids=c, codebooks=b
                    ).collect()
                ],
                qids,
                k,
            )
            lines.append(f"| IVF-PQ nprobe={nprobe} | {label} | {r:.2f} |")
    # the refinement stage (ADC shortlist -> exact re-rank): the production
    # answer to raw-ADC recall — quantization error only has to keep the
    # true neighbors inside the shortlist, not rank them
    for refine in (25, 50):
        for nprobe in (2, 4):
            r = recall_loop(
                ground,
                lambda q, p=nprobe, rf=refine: [
                    int(x[0])
                    for x in ivf_pq_topk(
                        emb,
                        query_id=q,
                        k=k,
                        nprobe=p,
                        centroids=cents_km,
                        codebooks=books_km,
                        refine=rf,
                    ).collect()
                ],
                qids,
                k,
            )
            lines.append(
                f"| IVF-PQ nprobe={nprobe} + refine={refine} | k-means (2 iter) | {r:.2f} |"
            )
    print("IVF-PQ done", time.time() - t0, flush=True)

    # --- LSH bucket-restricted ----------------------------------------------
    lines += [
        "",
        "## LSH bucket-restricted search (Q = 10)",
        "",
        "Candidates = the query's SRP bucket only; exact cosine re-rank",
        "inside it. `scan` = mean fraction of the corpus scanned.",
        "",
        "| n_planes | recall@10 | scan |",
        "|---|---|---|",
    ]
    for n_planes in (2, 4, 6):
        r, frac = lsh_recall(emb, ground, qids, k, n_planes)
        lines.append(f"| {n_planes} | {r:.2f} | {frac:.2f} |")
    print("LSH done", time.time() - t0, flush=True)

    # --- hash_embed vs exact BOW cosine -------------------------------------
    doc_qids = list(range(8))
    bow = bow_truth(docs, doc_qids, k)
    lines += [
        "",
        "## hash_embed (SRP text embeddings) vs exact BOW cosine (Q = 8)",
        "",
        "| dim | recall@10 |",
        "|---|---|",
    ]
    for dim in (16, 32, 60):
        r = recall_loop(
            bow,
            lambda q, d=dim: [
                int(x[0])
                for x in hash_embed_topk(docs, query_id=q, k=k, dim=d).collect()
            ],
            doc_qids,
            k,
        )
        lines.append(f"| {dim} | {r:.2f} |")
    print("hash_embed done", time.time() - t0, flush=True)

    lines += [
        "",
        f"Wall time: {time.time() - t0:.0f}s on local[8].",
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
