"""Extra benchmarks: per-query noop-sink isolation + phase breakdowns +
plan dumps (spark_optimization_guide §1.4/§1.5/§7.2).

NOT the driver's bench — bench.py stays frozen. This harness exists to
attribute wall-clock inside the expensive queries (e.g. how much of
quality_classifier_scores is the duplicated training pass vs the scoring
scan) and to dump `.explain("formatted")` for plans/r08/.

Usage:
    python bench_extra.py [--plans-dir plans/r08] [--tag before] [query ...]

Each query is timed with the noop sink (computes every column, discards
the write) unless the query is itself an aggregate-to-driver, in which
case the same action as bench.py is used.  One JSON line per query on
stdout; plans land in <plans-dir>/<query>_<tag>.txt.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from posextract_spark.session import default_cpus


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=[])
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(default_cpus())
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "40"))
    n_parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", "64"))

    from posextract_spark.session import build_session

    spark = build_session(app_name="posextract-bench-extra", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        docs = (
            docs_raw.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
                "text",
                "lang",
            )
        )
    else:
        docs = docs_raw.select("doc_id", "text", "lang")
    docs = docs.repartition(n_parts).persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def dump_plan(name, df):
        if not args.plans_dir:
            return
        os.makedirs(args.plans_dir, exist_ok=True)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(buf.getvalue())

    results = {}

    def timed(name, fn, n_runs=None):
        best = None
        for _ in range(n_runs or args.runs):
            sc.setJobDescription(f"extra:{name}")
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
            sc.setJobDescription(None)
        results[name] = round(best, 3)
        print(f"extra: {name} min={best:.3f}", file=sys.stderr)

    want = set(args.queries)

    def on(name):
        return not want or name in want or any(name.startswith(w) for w in want)

    # ---- classifier phases ----
    if on("classifier"):
        from posextract_spark.operators.classifier import (
            nb_score_documents,
            quality_classifier_scores,
            quality_classifier_weights,
        )

        w_df = quality_classifier_weights(docs)
        dump_plan("quality_classifier_weights", w_df)
        timed("classifier_weights_only", lambda: noop(quality_classifier_weights(docs)))
        full = quality_classifier_scores(docs)
        dump_plan("quality_classifier_scores", full)
        timed(
            "classifier_scores_full",
            lambda: quality_classifier_scores(docs)
            .agg(F.sum("score_e6"), F.sum("pred_keep"))
            .collect(),
        )

    # ---- semdedup phases ----
    if on("semdedup"):
        from posextract_spark.operators.similarity import (
            kmeans_centroids,
            semdedup_survivors,
        )

        timed("semdedup_kmeans_only", lambda: kmeans_centroids(emb, n_iter=2))
        cents = kmeans_centroids(emb, n_iter=2)
        timed(
            "semdedup_prune_only",
            lambda: semdedup_survivors(emb, threshold_e6=400000, centroids=cents).count(),
        )
        sd = semdedup_survivors(emb, threshold_e6=400000, centroids=cents)
        dump_plan("semdedup_survivors", sd)
        timed(
            "semdedup_full",
            lambda: semdedup_survivors(
                emb, threshold_e6=400000, centroids=kmeans_centroids(emb, n_iter=2)
            ).count(),
        )

    # ---- contaminated_token_fraction phases ----
    if on("ctf"):
        from posextract_spark.functions.boundary import materialize
        from posextract_spark.functions.hashing import ngram_array, word_array
        from posextract_spark.operators.dedup import SHINGLE_N
        from posextract_spark.operators.mldata import (
            _guarded_eval_shingles,
            _shingle_rows,
            contaminated_token_fraction,
        )

        ev_docs = docs.filter(F.col("doc_id") % 29 == 0)

        def grams_pos():
            g = materialize(
                docs.select("doc_id", "text"), __fw=word_array(F.col("text"))
            )
            grams = g.filter(F.size(F.col("__fw")) >= SHINGLE_N).select(
                F.col("doc_id"),
                F.size(F.col("__fw")).cast("long").alias("n_words"),
                ngram_array(F.col("__fw"), SHINGLE_N).alias("__grams"),
            )
            return grams.select(
                "doc_id", "n_words", F.posexplode(F.col("__grams")).alias("pos", "shingle")
            )

        timed("ctf_gram_pos_only", lambda: noop(grams_pos()))
        timed(
            "ctf_eval_shingles_only",
            lambda: noop(
                _guarded_eval_shingles(_shingle_rows(ev_docs, "text", "doc_id"), 10_000_000)
            ),
        )

        def joined():
            ev = _guarded_eval_shingles(_shingle_rows(ev_docs, "text", "doc_id"), 10_000_000)
            return grams_pos().join(ev, "shingle")

        timed("ctf_join_only", lambda: noop(joined()))
        ctf = contaminated_token_fraction(docs, ev_docs)
        dump_plan("contaminated_token_fraction", ctf)
        timed(
            "ctf_full",
            lambda: contaminated_token_fraction(docs, ev_docs)
            .agg(F.sum("covered_tokens"), F.sum("frac_e6"))
            .collect(),
        )

    # ---- scan-side queries: plan dumps + noop ----
    if on("scans"):
        from posextract_spark.operators.dedup import minhash_signatures, simhash
        from posextract_spark.operators.textops import (
            corpus_quality_filter,
            fingerprint,
            language_id,
            quality_score,
        )

        for nm, f_ in [
            ("minhash_signatures", lambda: minhash_signatures(docs)),
            ("simhash", lambda: simhash(docs)),
            (
                "text_quality_scan",
                lambda: fingerprint(language_id(quality_score(docs))),
            ),
            ("corpus_quality_filter", lambda: corpus_quality_filter(docs)),
        ]:
            dump_plan(nm, f_())
            timed(nm + "_noop", lambda f_=f_: noop(f_()))

    # ---- bloom ----
    if on("bloom"):
        from posextract_spark.operators.bloom import decontaminate_bloom

        ev_docs = docs.filter(F.col("doc_id") % 29 == 0)
        db = decontaminate_bloom(docs, ev_docs, m_bits=63 * 2048, k=5)
        dump_plan("decontaminate_bloom", db)
        timed(
            "decontaminate_bloom",
            lambda: decontaminate_bloom(docs, ev_docs, m_bits=63 * 2048, k=5)
            .agg(F.sum("n_contaminated"))
            .collect(),
        )

    # ---- dsir ----
    if on("dsir"):
        from posextract_spark.operators.mldata import dsir_scores

        tgt = docs.filter(F.col("doc_id") % 29 == 0)
        ds = dsir_scores(docs, tgt)
        dump_plan("dsir_scores", ds)
        timed(
            "dsir_scores",
            lambda: dsir_scores(docs, tgt)
            .agg(F.sum("n_features"), F.sum("dsir_score"))
            .collect(),
        )

    # ---- triples: isolate the python kernel vs the JVM wrapper ----
    if on("triples"):
        from posextract_spark.operators.triples import extract_triples

        tr = extract_triples(docs, text_col="text", id_cols=["doc_id"], provider="svo")
        dump_plan("triples_extract", tr)
        timed("triples_noop", lambda: noop(
            extract_triples(docs, text_col="text", id_cols=["doc_id"], provider="svo")
        ))

    print(json.dumps({"extra_phases": results, "sf": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
