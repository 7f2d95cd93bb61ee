"""sf1 stress for the third late-r7 wave: integer DSIR scoring,
winnowing fingerprints, the HDR quantile sketch, and the corpus
datacard — all at 2M docs on the deterministic sf1 table.

Usage: python3 tools/stress_late_r7_sf1.py [--cpus N]
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
        app_name="stress-late-r7-sf1",
        master=f"local[{args.cpus}]",
        shuffle_partitions=128,
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"stress: load1={os.getloadavg()[0]:.2f}", file=sys.stderr)
    if not os.path.exists(DOC_PATH):
        sys.exit(f"missing {DOC_PATH}: run tools/stress_sf1.py first")
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

    ev = docs.filter(F.col("doc_id") % 9973 == 0)

    from posextract_spark.operators.mldata import dsir_scores

    timed(
        "dsir_scores_2m",
        lambda: dsir_scores(docs, ev)
        .agg(F.count(F.lit(1)), F.sum("dsir_score"))
        .collect()[0][0],
    )

    from posextract_spark.operators.dedup import winnow_stats

    timed(
        "winnow_stats_2m",
        lambda: winnow_stats(docs)
        .agg(F.count(F.lit(1)), F.sum("n_fingerprints"))
        .collect()[0][1],
    )

    from posextract_spark.operators.sketches import hdr_quantiles

    timed(
        "hdr_length_quantiles_2m",
        lambda: [
            (r.q_e6, r.est_value)
            for r in hdr_quantiles(docs, "n_chars").collect()
        ],
    )

    from posextract_spark.operators.diagnostics import corpus_datacard

    timed(
        "corpus_datacard_2m",
        lambda: {
            r.metric: r.value for r in corpus_datacard(docs, ev).collect()
        },
    )
    spark.stop()


if __name__ == "__main__":
    main()
