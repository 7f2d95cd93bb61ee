"""The contract: each query the engine exports, with its DuckDB oracle.

``entry`` runs the flagship slice: svo triples over sf0.001, by predicate.

``REGISTRY`` declares each contract query once, as a ``Query(name, build,
oracle)`` row. ``build(spark, sf_dir)`` returns a DataFrame over the parquet
tables in ``sf_dir``; ``oracle()`` returns DuckDB SQL over the same tables
that yields the same rows, and is built only when called. Extraction is
oracle-checked too: the deterministic svo parse provider
(posextract_spark/parse/svo.py) gives the kernel an exact SQL mirror.

The exports are views of the registry, in row order. ``queries()`` is the
first ``EXPORT_CAP`` (50) rows, as the external correctness check reads
at most 50 entries; ``extra_queries()`` is the rest, which
tools/check_contract.py checks too; ``oracle_sql()`` maps every name to its
SQL. To rotate a query into the 50, move its row above the ``EXPORT_CAP``
marker and another row below it, then re-record tests/goldens/contract.json.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: triple extraction over documents -> predicate histogram."""
    from posextract_spark.operators.triples import extract_triples

    docs = _docs(spark, "/root/testdata/sf0.001")
    triples = extract_triples(docs, text_col="text", id_cols=["doc_id"], provider="svo")
    return (
        triples.groupBy("verb")
        .agg(F.count(F.lit(1)).alias("n_triples"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n_triples"), F.col("verb"))
    )


# --- query implementations --------------------------------------------------


def q_svo_triples(spark, sf_dir):
    from posextract_spark.operators.triples import extract_triples

    t = extract_triples(_docs(spark, sf_dir), text_col="text", id_cols=["doc_id"], provider="svo")
    return t.select("doc_id", "subject", "verb", "object")


# One shared persisted triples frame per (session, sf_dir), reused by the
# KG queries: the extraction materializes once, an older key is evicted
# eagerly, and release_caches() frees the last one (tests/test_entry_caches.py).
_TRIPLES_CACHE: dict[tuple[int, str], DataFrame] = {}


def _shared_triples(spark, sf_dir) -> DataFrame:
    # applicationId, not id(spark): a garbage-collected session's CPython id
    # can be reused by a NEW SparkSession, and the cache would then hand out
    # a stale DataFrame bound to the stopped session (ADVICE r3)
    key = (spark.sparkContext.applicationId, sf_dir)
    for k in [k for k in _TRIPLES_CACHE if k != key]:
        try:
            _TRIPLES_CACHE.pop(k).unpersist()
        except Exception:
            pass
    if key not in _TRIPLES_CACHE:
        _TRIPLES_CACHE[key] = q_svo_triples(spark, sf_dir).persist()
    return _TRIPLES_CACHE[key]


def release_caches() -> None:
    """Unpersist every shared frame this module has cached."""
    for k in list(_TRIPLES_CACHE):
        try:
            _TRIPLES_CACHE.pop(k).unpersist()
        except Exception:
            pass


def q_svo_triples_by_verb(spark, sf_dir):
    return (
        _shared_triples(spark, sf_dir)
        .groupBy("verb")
        .agg(F.count(F.lit(1)).alias("n_triples"), F.countDistinct("doc_id").alias("n_docs"))
    )


_POSRULE_TEXT = """
// keep subjects starting with d..., drop merge triples
MATCH SUBJECT=RE<"d.*">;
IGNORE VERB="merge";
"""


def q_svo_triples_posrule(spark, sf_dir):
    # re-extracts rather than reusing _shared_triples: the posrule Column
    # filters on the raw *_token_text columns, which the shared frame's
    # 4-column projection drops.
    from posextract_spark.operators.triples import extract_triples
    from posextract_spark.posrule import parse_posrule_text, to_column

    flt = to_column(parse_posrule_text(_POSRULE_TEXT))
    t = extract_triples(
        _docs(spark, sf_dir), text_col="text", id_cols=["doc_id"], provider="svo",
        posrule_filter=flt,
    )
    return t.select("doc_id", "subject", "verb", "object")


def q_adj_noun_pairs(spark, sf_dir):
    from posextract_spark.operators.pairs import extract_adj_noun_pairs

    return extract_adj_noun_pairs(
        _docs(spark, sf_dir), text_col="text", id_cols=["doc_id"], provider="svo"
    )


def q_subj_verb_pairs(spark, sf_dir):
    from posextract_spark.operators.pairs import extract_subj_verb_pairs

    return extract_subj_verb_pairs(
        _docs(spark, sf_dir), text_col="text", id_cols=["doc_id"], provider="svo"
    )


def q_token_count(spark, sf_dir):
    from posextract_spark.operators.textops import token_count

    return token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens", "n_tokens_bpe_est")


def q_quality_score(spark, sf_dir):
    from posextract_spark.operators.textops import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "mean_word_len_e4", "stopword_ratio_e4"
    )


def q_language_id(spark, sf_dir):
    from posextract_spark.operators.textops import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "pred_lang")


def q_fingerprint(spark, sf_dir):
    from posextract_spark.operators.textops import fingerprint

    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "text_hash", "min_word_hash")


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking (64-word windows, 16 overlap) — one row per
    chunk, scan-side explode."""
    from posextract_spark.operators.textops import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_size=64, overlap=16)


def q_mask_pii(spark, sf_dir):
    """Redaction stage over deterministically dirtied text: typed
    placeholder masking + per-class counts, RE2-compatible patterns so the
    Java-regex side and the DuckDB mirror agree on spans."""
    from posextract_spark.operators.textops import mask_pii

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" contact bob.smith+spam@mail.example.org now")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("see https://ex.test/a?b=1 and 10.0.255.7 "), F.col("text")),
        )
        .otherwise(F.col("text")),
    )
    return mask_pii(docs).select("doc_id", "n_email", "n_url", "n_ip", "masked_text")


def q_url_normalize(spark, sf_dir):
    """Crawl-side URL canonicalization over deterministically synthesized
    messy URLs (uppercase schemes/hosts, default ports, www, tracking
    params, fragments, duplicate slashes) — the page-identity dedup key,
    computed scan-side."""
    from posextract_spark.operators.urls import url_normalize

    m = F.col("doc_id") % 5
    src = F.col("source")
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://WWW."), src, F.lit(".Example.COM:80//a/b/?utm_source=x&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("https://"), src, F.lit(".example.com:443/Path/")))
        .when(m == 2, F.concat(F.lit("https://"), src, F.lit(".EXAMPLE.com/p?z=1&utm_campaign=c&y=2&fbclid=q")))
        .when(m == 3, F.concat(F.lit("http://"), src, F.lit(".example.com:8080/p//q?q=1#x")))
        .otherwise(F.concat(F.lit("https://WWW."), src, F.lit(".example.com")))
    )
    docs = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_normalize(docs).select("doc_id", "url", "host", "port", "url_norm")


def q_url_dedup_groups(spark, sf_dir):
    """Page dedup on the canonical URL: group by url_norm, first-seen
    (min doc_id) wins — the synthesized corpus collapses 500 pages into
    ~100 canonical URLs. Single hash shuffle on the normalized key; at
    crawl scale this is the pre-extraction dedup pass."""
    from posextract_spark.operators.urls import url_normalize

    urls = q_url_normalize(spark, sf_dir).select("doc_id", "url_norm")
    return urls.groupBy("url_norm").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


_URLS_IN_SQL = (
    "SELECT doc_id, CASE CAST(doc_id % 5 AS INT) "
    "WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80//a/b/?utm_source=x&b=2&a=1#frag' "
    "WHEN 1 THEN 'https://' || source || '.example.com:443/Path/' "
    "WHEN 2 THEN 'https://' || source || '.EXAMPLE.com/p?z=1&utm_campaign=c&y=2&fbclid=q' "
    "WHEN 3 THEN 'http://' || source || '.example.com:8080/p//q?q=1#x' "
    "ELSE 'https://WWW.' || source || '.example.com' END AS url "
    "FROM documents"
)


def q_corpus_quality_filter(spark, sf_dir):
    """Composite C4/Gopher-style keep/drop decision: every signal
    (length, mean word length, dup fraction, word runs, language) is a
    native Column over one word array — single scan, zero shuffle."""
    from posextract_spark.operators.textops import corpus_quality_filter

    return corpus_quality_filter(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style boilerplate signals: duplicate-word fraction, modal
    bigram fraction, longest same-word run — scan-side native Columns."""
    from posextract_spark.operators.textops import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_clean_text(spark, sf_dir):
    """Unicode NFC (pandas UDF — Spark has no native normalizer) + control/
    zero-width strip + space collapse, hash-checked against DuckDB's native
    nfc_normalize on deterministically dirtied text."""
    from posextract_spark.operators.textops import DIRT_PREFIX, DIRT_SUFFIX, clean_text

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(DIRT_SUFFIX)))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit(DIRT_PREFIX), F.col("text")))
        .otherwise(F.col("text")),
    )
    return clean_text(docs).select("doc_id", "n_chars_raw", "clean_text", "n_chars_clean")


def q_exact_dedup(spark, sf_dir):
    from posextract_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_docs(spark, sf_dir))


def q_minhash_signatures(spark, sf_dir):
    from posextract_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir))


def q_minhash_band_pairs(spark, sf_dir):
    from posextract_spark.operators.dedup import minhash_band_pairs

    return minhash_band_pairs(_docs(spark, sf_dir))


def q_minhash_dedup_survivors(spark, sf_dir):
    """End-to-end near-dup dedup: LSH pairs -> connected components ->
    survivor per cluster (oracle: recursive-CTE transitive closure)."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors

    return minhash_dedup_survivors(_docs(spark, sf_dir))


def q_simhash(spark, sf_dir):
    from posextract_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_ngram_jaccard_stats(spark, sf_dir):
    from posextract_spark.operators.dedup import ngram_jaccard_stats

    return ngram_jaccard_stats(_docs(spark, sf_dir))


def q_winnow_stats(spark, sf_dir):
    """Winnowing fingerprint digests (Schleimer et al. 2003): window-min
    selection over positional 5-gram hashes; per-doc count + bit_xor +
    extrema pin the full fingerprint set
    (operators/dedup.winnow_stats)."""
    from posextract_spark.operators.dedup import winnow_stats

    return winnow_stats(_docs(spark, sf_dir))


def q_contamination_report(spark, sf_dir):
    """Corpus-level eval-leak dashboard: severity-banded doc counts +
    total distinct-shingle hits over decontaminate()'s per-doc output
    (eval = the deterministic doc_id % 29 subset, as in q_decontaminate)."""
    from posextract_spark.operators.mldata import contamination_report

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    return contamination_report(docs, ev)


def q_contaminated_token_fraction(spark, sf_dir):
    """GPT-3/Llama-style fuzzy contamination: fraction of each train
    doc's tokens covered by eval-matching 5-gram occurrences (interval
    union over positional shingle hits, COUNT(DISTINCT position) — no
    double counting). Same deterministic eval split as q_decontaminate."""
    from posextract_spark.operators.mldata import contaminated_token_fraction

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    return contaminated_token_fraction(docs, ev)


def q_neardup_contamination(spark, sf_dir):
    """Near-duplicate eval decontamination: train docs (doc_id % 29 != 0)
    colliding with the eval split in >= 1 minhash-LSH band — the fuzzy
    arm exact-shingle decontaminate misses; eval side pre-aggregated to
    band-bucket summaries so the join is never quadratic
    (operators/dedup.neardup_contamination)."""
    from posextract_spark.operators.dedup import neardup_contamination

    docs = _docs(spark, sf_dir)
    return neardup_contamination(
        docs.filter(F.col("doc_id") % 29 != 0),
        docs.filter(F.col("doc_id") % 29 == 0),
    )


def q_bpe_fertility_stats(spark, sf_dir):
    """Tokenizer fertility per source slice: BPE tokens per whitespace
    word + chars per BPE token under the fixed contract merge list —
    the per-domain tokenizer-evaluation report
    (operators/mldata.bpe_fertility_stats)."""
    from posextract_spark.operators.mldata import bpe_fertility_stats

    return bpe_fertility_stats(_docs(spark, sf_dir), _BPE_MERGES)


def q_dsir_scores(spark, sf_dir):
    """DSIR importance scores (Xie et al. 2023) in integer flog2
    arithmetic: rank raw docs by hashed-bigram target-likeness against
    the deterministic doc_id % 29 seed split
    (operators/mldata.dsir_scores)."""
    from posextract_spark.operators.mldata import dsir_scores

    docs = _docs(spark, sf_dir)
    return dsir_scores(docs, docs.filter(F.col("doc_id") % 29 == 0))


def q_url_canonical_groups(spark, sf_dir):
    """URL canonicalization for recrawl dedup: extracted raw link targets
    -> canonical form (lowercased scheme/host, default-port/fragment/
    tracking-param stripping, path + query normalization) -> one row per
    canonical URL with occurrence and raw-variant counts. The string ops
    are native Columns (scan-side, no UDF); the oracle applies the SAME
    logic in DuckDB over the replayed raw targets."""
    from posextract_spark.operators.weblinks import canonicalize_urls, extract_links
    from posextract_spark.sources.weblinks import linked_pages

    links = extract_links(linked_pages(spark, 300, seed=42))
    c = canonicalize_urls(links.select(F.col("target").alias("url")), url_col="url")
    return c.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("url").cast("long").alias("n_raw_forms"),
    )


def q_pack_stats(spark, sf_dir):
    """Packing-efficiency report: sequences, tail-bin padding waste, and
    doc-straddle counts per pack bucket — one combinable groupBy over the
    packing assignment."""
    from posextract_spark.operators.mldata import pack_stats

    return pack_stats(_docs(spark, sf_dir))


def q_leakage_safe_split(spark, sf_dir):
    """Near-dup-leakage-proof train/val/test split: LSH clusters first,
    then the split hashes the CLUSTER id, so a training doc's near-copy
    can never land in eval."""
    from posextract_spark.operators.mldata import leakage_safe_split

    return leakage_safe_split(_docs(spark, sf_dir))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact pairwise shingle Jaccard (the LSH verification baseline /
    post-LSH audit pass; quadratic by definition, sample- or cap-bounded
    in production)."""
    from posextract_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_minhash_pair_quality(spark, sf_dir):
    """Dedup-quality report — recall/precision of minhash LSH banding vs
    exact shingle Jaccard at 0.5/0.7/0.9 (the dedup analogue of
    ann_recall_ivf; full sweep + S-curve in tools/dedup_quality.py)."""
    from posextract_spark.operators.dedup import minhash_pair_quality

    return minhash_pair_quality(_docs(spark, sf_dir))


_QUERY_VEC: dict = {}


def _query_vec(spark, sf_dir):
    if sf_dir not in _QUERY_VEC:
        row = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .head()
        )
        _QUERY_VEC[sf_dir] = [float(x) for x in row[0]]
    return _QUERY_VEC[sf_dir]


def q_cosine_topk(spark, sf_dir):
    from posextract_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


def q_lsh_bucket(spark, sf_dir):
    from posextract_spark.operators.similarity import lsh_bucket

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucket(emb)


def q_ivf_assign(spark, sf_dir):
    from posextract_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_assign(emb)


def q_ivf_topk(spark, sf_dir):
    from posextract_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, _query_vec(spark, sf_dir), k=10)


def q_ivf_assign_kmeans(spark, sf_dir):
    """IVF with TRAINED centroids: 2 Lloyd iterations in exact integer
    fixed-point, bit-identical across engines (oracle = the same iterations
    unrolled as DuckDB CTEs)."""
    from posextract_spark.operators.similarity import ivf_assign, kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_assign(emb, centroids=kmeans_centroids(emb, n_iter=2))


def q_ivf_topk_kmeans(spark, sf_dir):
    from posextract_spark.operators.similarity import ivf_topk, kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(
        emb, _query_vec(spark, sf_dir), k=10, centroids=kmeans_centroids(emb, n_iter=2)
    )


def q_semdedup_survivors(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): trained k-means
    clusters confine the cosine near-dup pruning; the kept member of
    each epsilon-ball is the one farthest from its centroid
    (operators/similarity.semdedup_survivors)."""
    from posextract_spark.operators.similarity import (
        kmeans_centroids,
        semdedup_survivors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # threshold calibrated to the synthetic corpus (near-random vectors:
    # max within-cluster cosine ~0.51, so the production 0.95 default
    # would prune nothing); 0.40 exercises the dominance pruning
    return semdedup_survivors(
        emb, threshold_e6=400000, centroids=kmeans_centroids(emb, n_iter=2)
    )


def q_semdedup_against_base(spark, sf_dir):
    """Incremental semantic dedup: odd-id vectors flagged against the
    even-id base corpus — trained-quantizer assignment both sides, the
    cluster-confined cosine join, append-only semantics
    (operators/similarity.semdedup_against_base)."""
    from posextract_spark.operators.similarity import semdedup_against_base

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup_against_base(
        emb.filter(F.col("vec_id") % 2 == 1),
        emb.filter(F.col("vec_id") % 2 == 0),
        threshold_e6=400000,
    )


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced diversity subsample: trained k-means assignment +
    deterministic expected-32-per-cluster keep rule — mega-clusters
    capped, tail clusters intact
    (operators/similarity.cluster_balanced_sample)."""
    from posextract_spark.operators.similarity import cluster_balanced_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster_balanced_sample(emb, cap_per_cluster=32)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retriever training (DPR/Contriever
    recipe): per query, top-5 most-similar corpus vectors excluding self
    and the synthetic gold positive (q -> q+250)
    (operators/similarity.hard_negative_mining)."""
    from posextract_spark.operators.similarity import hard_negative_mining

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    gold = spark.range(10).select(
        F.col("id").alias("qid"), (F.col("id") + 250).alias("pos_id")
    )
    return hard_negative_mining(emb, gold, n_queries=10, k=5)


def q_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH ANN (Lv et al. 2007): the query bucket plus every
    Hamming-1 neighbor, exact cosine rerank — the probe/recall dial on
    the SRP index (operators/similarity.lsh_multiprobe_topk)."""
    from posextract_spark.operators.similarity import lsh_multiprobe_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_multiprobe_topk(emb, query_id=0, k=10, n_planes=4)


def q_embedding_neardup(spark, sf_dir):
    from posextract_spark.operators.similarity import neardup_bucket_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # n_planes pinned so the static SQL mirror stays exact; production uses
    # the auto (planes_for) default + max_bucket_width for skew.
    return neardup_bucket_stats(emb, n_planes=4)


def _media(spark):
    from posextract_spark.sources.media import generate_media

    return generate_media(spark, 120, seed=42)


def q_media_image_features(spark, sf_dir):
    """Multimodal: decode + feature-extract the deterministic synthetic media
    corpus (binary payload column). Oracle = generator-RNG replay rendered as
    a VALUES table (posextract_spark/oracles.py), so encode -> Arrow ->
    decode -> feature math is hash-checked end-to-end."""
    from posextract_spark.operators.multimodal import image_features

    return image_features(_media(spark))


def q_media_audio_features(spark, sf_dir):
    from posextract_spark.operators.multimodal import audio_features

    return audio_features(_media(spark))


def q_media_resize(spark, sf_dir):
    """Resize plumbing pinned by payload md5: new dims from columnar meta,
    full SIMG payload bytes via md5 (oracle replays the box downscale)."""
    from posextract_spark.operators.multimodal import resize_images

    out = resize_images(_media(spark), factor=2)
    return out.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def q_media_frame_sample(spark, sf_dir):
    """Video frame sampling (flatMap over binary payloads) -> frame counts
    per video; oracle is the closed form ceil(n_frames / k)."""
    from posextract_spark.operators.multimodal import sample_frames

    return (
        sample_frames(_media(spark), every_k=2)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames_sampled"))
    )


def q_kg_edges(spark, sf_dir):
    """Graph materialize over the SVO triples: edge weights + provenance."""
    t = _shared_triples(spark, sf_dir)
    return t.groupBy("subject", "verb", "object").agg(
        F.count(F.lit(1)).alias("weight"), F.countDistinct("doc_id").alias("n_docs")
    )


def _kg_edge_list(spark, sf_dir):
    """Directed entity-graph edge list (one row per extracted triple) the
    graph-analytics queries run over: subject -> object."""
    return _shared_triples(spark, sf_dir).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )


def q_kg_neighborhood_function(spark, sf_dir):
    """ANF reachability profiling (Palmer et al. 2002): per-entity
    estimate of the 3-hop out-neighborhood size from 4 deterministic FM
    bitmasks — registers merge by bit_or, the scale path where exact
    closure would materialize O(n^2) pairs
    (operators/graph_analytics.neighborhood_function)."""
    from posextract_spark.operators.graph_analytics import neighborhood_function

    return neighborhood_function(_kg_edge_list(spark, sf_dir), n_hops=3, n_masks=4)


def q_kg_degree_stats(spark, sf_dir):
    """Per-entity degree profile of the triple graph (hub detection):
    distinct-neighbor degrees + edge-row weights, one shuffle
    (operators/graph_analytics.degree_stats)."""
    from posextract_spark.operators.graph_analytics import degree_stats

    return degree_stats(_kg_edge_list(spark, sf_dir))


def q_kg_triangles(spark, sf_dir):
    """Per-entity triangle counts + integer clustering coefficient via the
    degree-ordered wedge join (skew-bounded O(m^1.5) — see
    operators/graph_analytics.triangle_counts)."""
    from posextract_spark.operators.graph_analytics import triangle_counts

    return triangle_counts(_kg_edge_list(spark, sf_dir))


def q_kg_pagerank(spark, sf_dir):
    """3-iteration fixed-point integer PageRank over the entity graph —
    the oracle unrolls the SAME integer arithmetic as DuckDB CTEs, so an
    *iterative* algorithm carries a hard hash signal
    (operators/graph_analytics.pagerank)."""
    from posextract_spark.operators.graph_analytics import pagerank

    return pagerank(_kg_edge_list(spark, sf_dir), n_iters=3)


def q_kg_kcore(spark, sf_dir):
    """2-core of the entity graph — iterative degree-peeling keeps only
    nodes in cyclically-connected structure (drops pendant mention
    chains; the standard graph-cleanup pass before community/centrality
    work). The oracle unrolls the same peel as MATERIALIZED DuckDB CTEs;
    Spark runs to fixpoint, so the hash also pins convergence
    (operators/graph_analytics.kcore)."""
    from posextract_spark.operators.graph_analytics import kcore

    return kcore(_kg_edge_list(spark, sf_dir), k=2)


def q_kg_neighbor_jaccard(spark, sf_dir):
    """Structural entity-merge candidates: shared-neighbor Jaccard over
    the entity graph ("IBM" and "Big Blue" relate to the same entities
    even when the strings don't match) — feeds the same CC clustering as
    the string-coref edges. max_neighbor_degree=12 makes the hot-hub
    wedge-drop branch carry oracle signal at sf0.01 (the template entity
    graph is a 14-node near-clique with four degree-13 hubs)
    (operators/graph_analytics.neighbor_jaccard)."""
    from posextract_spark.operators.graph_analytics import neighbor_jaccard

    return neighbor_jaccard(
        _kg_edge_list(spark, sf_dir), min_common=1, max_neighbor_degree=12
    )


def q_kg_communities(spark, sf_dir):
    """Entity communities via deterministic synchronous label propagation
    (4 fixed rounds, min-label ties — no coin flips, no async order
    dependence). The oracle unrolls the identical rounds in DuckDB, so an
    iterative community algorithm carries a hard hash signal
    (operators/graph_analytics.label_propagation)."""
    from posextract_spark.operators.graph_analytics import label_propagation

    return label_propagation(_kg_edge_list(spark, sf_dir), n_iters=4)


def q_kg_khop(spark, sf_dir):
    """Ego-network extraction: BFS hop distance (min over seeds, <= 2)
    from the seed set {entities starting with 's'} over the entity graph
    — the "everything within 2 hops of these entities" query a KG
    consumer runs; seeds are predicate-derived so the query is meaningful
    at every SF (operators/graph_analytics.khop_nodes; oracle = unrolled
    BFS layers)."""
    from posextract_spark.operators.graph_analytics import khop_nodes

    edges = _kg_edge_list(spark, sf_dir)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .filter(F.col("node").startswith("s"))
        .distinct()
    )
    return khop_nodes(edges, seeds, k=2)


def q_kg_taxonomy_closure(spark, sf_dir):
    """Depth-labeled transitive closure (ancestor table) over the
    DAG-normalized entity graph (src < dst orients each edge
    lexicographically — the deterministic stand-in for a hierarchical
    predicate's natural direction; it also keeps the unrolled oracle's
    level count honest). Path doubling: O(log d) self-join rounds, exact
    min hop depth (operators/graph_analytics.transitive_closure; oracle =
    independent linear-extension unrolling, transitive_closure_sql)."""
    from posextract_spark.operators.graph_analytics import transitive_closure

    edges = _kg_edge_list(spark, sf_dir).filter(F.col("src") < F.col("dst"))
    return transitive_closure(edges, max_depth=8)


def q_kg_export_ntriples(spark, sf_dir):
    """RDF N-Triples serialization of the predicate-edge KG — the line
    format a triple store bulk-loads; explicit percent-encode chain so
    both engines emit identical bytes (operators/graph.to_ntriples)."""
    from posextract_spark.operators.graph import to_ntriples

    return to_ntriples(_kg_pred_edges(spark, sf_dir))


def q_kg_node_features(spark, sf_dir):
    """Assembled per-entity GNN feature table: directed degrees +
    triangle/clustering stats + integer PageRank from ONE shared edge
    frame, degenerate nodes coalesced to 0 (operators/graph_analytics.
    node_features; oracle = the component mirrors nested as CTEs)."""
    from posextract_spark.operators.graph_analytics import node_features

    return node_features(_kg_edge_list(spark, sf_dir))


def q_kg_cycle_nodes(spark, sf_dir):
    """Taxonomy validation: entities on a directed cycle of the raw
    subject->object graph with the shortest cycle length through each —
    a cycle in a hierarchy relation is a data defect the curation stage
    must surface (operators/graph_analytics.cycle_nodes; oracle = the
    unrolled-closure self-join mirror). max_depth=6 bounds both arcs."""
    from posextract_spark.operators.graph_analytics import cycle_nodes

    return cycle_nodes(_kg_edge_list(spark, sf_dir), max_depth=6)


def q_dup_span_stats(spark, sf_dir):
    """Cross-document duplicated-span profile (exact substring-dedup
    signal, content-defined hash-anchored windows — operators/dedup.py):
    per doc, how many sampled 4-token windows also occur in another
    document."""
    from posextract_spark.operators.dedup import dup_span_stats

    return dup_span_stats(_docs(spark, sf_dir), window=4, sample=2)


def q_strip_duplicate_spans(spark, sf_dir):
    """Corpus-EDITING exact substring dedup (Lee et al. 2022 remedy):
    removes every token covered by a 4-token window seen in >= 2 distinct
    documents and rebuilds the text (operators/dedup.py). sample=1: the
    removal pass must see every window."""
    from posextract_spark.operators.dedup import strip_duplicate_spans

    return strip_duplicate_spans(_docs(spark, sf_dir), window=4, sample=1)


def q_quality_classifier_weights(spark, sf_dir):
    """Bootstrapped quality classifier, training half (GPT-3/DCLM
    pattern, operators/classifier.py): heuristic-filter keep/drop as
    pseudo-labels -> exact-integer NB posterior weight per token.
    One explode + vocab-keyed groupBy (map-side partials), scalar
    totals crossJoin-broadcast."""
    from posextract_spark.operators.classifier import quality_classifier_weights

    return quality_classifier_weights(_docs(spark, sf_dir))


def q_quality_classifier_scores(spark, sf_dir):
    """Bootstrapped quality classifier, scoring half: every document
    scored by the trained weight table (broadcast; scan-side explode +
    doc-keyed groupBy). score_e6 = sum of centered token polarities;
    pred_keep = evidence leans positive."""
    from posextract_spark.operators.classifier import quality_classifier_scores

    return quality_classifier_scores(_docs(spark, sf_dir))


def q_host_link_graph(spark, sf_dir):
    """Crawl link structure: deterministic linked-pages corpus -> native
    regex outlink extraction -> host-level edge aggregate. All-Catalyst
    (no Python in the hot path); oracle = generator replay
    (oracles.host_link_graph_sql)."""
    from posextract_spark.operators.weblinks import extract_links, host_graph
    from posextract_spark.sources.weblinks import linked_pages

    return host_graph(extract_links(linked_pages(spark, 300, seed=42)))


def q_host_pagerank(spark, sf_dir):
    """Host authority: PageRank over the extracted host graph — the
    composition a crawl pipeline actually runs (frontier prioritization /
    quality prior). Oracle replays the edge list and unrolls the same
    integer arithmetic (oracles.host_pagerank_sql)."""
    from posextract_spark.operators.graph_analytics import pagerank
    from posextract_spark.operators.weblinks import extract_links, host_graph
    from posextract_spark.sources.weblinks import linked_pages

    hg = host_graph(extract_links(linked_pages(spark, 300, seed=42)))
    return pagerank(hg.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")), n_iters=3)


def q_anchor_alias_mining(spark, sf_dir):
    """Alias-dictionary mining from anchor text — aggregate the surface
    forms the web uses to LINK to each host ("IBM"/"Big Blue" both anchor
    to ibm.com) into the (surface -> entity) dictionary that bootstraps
    entity linking with no hand-curated input. min_count=2 and
    min_share_e6=60000 both genuinely cut rows on the 300-page corpus
    (72 unthresholded -> 66 rows), so the thresholds carry oracle signal
    (operators/weblinks.anchor_alias_candidates; oracle =
    oracles.anchor_alias_sql generator replay)."""
    from posextract_spark.operators.weblinks import (
        anchor_alias_candidates,
        extract_anchors,
    )
    from posextract_spark.sources.weblinks import linked_pages

    return anchor_alias_candidates(
        extract_anchors(linked_pages(spark, 300, seed=42)),
        min_count=2,
        min_share_e6=60_000,
    )


def q_kg_link_from_anchors(spark, sf_dir):
    """Anchor mining -> alias dictionary -> entity linking, END TO END
    (VERDICT r6 item 7): the dictionary is mined from one crawl's anchors
    (alias_df_from_anchors over anchor_alias_candidates) and applied to a
    SECOND crawl's anchor surfaces via link_entities — the production
    bootstrap where crawl N's link graph names the entities crawl N+1
    mentions. Output: per canonical entity, mention and linked counts.
    Oracle: generator replay of both crawls (oracles.link_from_anchors_sql)."""
    from posextract_spark.operators.linking import link_entities
    from posextract_spark.operators.weblinks import (
        alias_df_from_anchors,
        anchor_alias_candidates,
        extract_anchors,
    )
    from posextract_spark.sources.weblinks import linked_pages

    alias_df = alias_df_from_anchors(
        anchor_alias_candidates(
            extract_anchors(linked_pages(spark, 300, seed=42)),
            min_count=2,
            min_share_e6=60_000,
        )
    )
    mentions = extract_anchors(linked_pages(spark, 120, seed=7)).select(
        F.col("anchor_text").alias("surface")
    )
    linked = link_entities(mentions, alias_df)
    return linked.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum(F.col("linked").cast("int")).cast("long").alias("n_linked"),
    )


def q_host_pagerank_weighted(spark, sf_dir):
    """Host authority with link multiplicity: weight-proportional integer
    PageRank over the aggregated host graph — 200 links from one host
    mean more than 1, which the unweighted variant deliberately ignores.
    Oracle replays the weighted edge list and unrolls the same two-step
    floor arithmetic (oracles.host_pagerank_weighted_sql)."""
    from posextract_spark.operators.graph_analytics import pagerank_weighted
    from posextract_spark.operators.weblinks import extract_links, host_graph
    from posextract_spark.sources.weblinks import linked_pages

    hg = host_graph(extract_links(linked_pages(spark, 300, seed=42)))
    return pagerank_weighted(
        hg.select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("weight"),
        ),
        n_iters=3,
    )


def q_kg_nodes(spark, sf_dir):
    """Node table: canonical surface (lower) + deterministic entity id +
    mention count, from subject and object mentions. Triples persisted:
    the subject/object union would re-run the extraction UDF per branch."""
    from posextract_spark.functions.hashing import portable_hash64

    t = _shared_triples(spark, sf_dir)
    mentions = t.select(F.col("subject").alias("surface")).unionAll(
        t.select(F.col("object").alias("surface"))
    )
    canon = mentions.select(F.lower(F.col("surface")).alias("canonical"))
    return canon.groupBy("canonical").agg(F.count(F.lit(1)).alias("n_mentions")).select(
        portable_hash64(F.col("canonical")).alias("entity_id"), "canonical", "n_mentions"
    )


_ALIAS_ROWS = [
    ("data", "datum"),
    ("row", "record"),
    ("line", "record"),
    ("column", "field"),
    ("customer", "client"),
]


def q_entity_link(spark, sf_dir):
    """Broadcast alias-dictionary linking over triple subject/object
    mentions -> mention counts per canonical entity."""
    from posextract_spark.operators.linking import link_entities

    t = _shared_triples(spark, sf_dir)
    mentions = t.select(F.col("subject").alias("surface")).unionAll(
        t.select(F.col("object").alias("surface"))
    )
    alias_df = spark.createDataFrame(_ALIAS_ROWS, "surface_norm string, canonical string")
    linked = link_entities(mentions, alias_df)
    return linked.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.max(F.col("linked").cast("int")).alias("any_linked"),
    )


def q_entity_link_scored(spark, sf_dir):
    """Fuzzy mention-detect + link-score: distinct triple surfaces resolved
    against the broadcast alias dictionary by prefix blocking + bigram
    Jaccard, best candidate per surface, threshold fallback. Pure native
    Columns — the scorer is fully codegen'd, zero Python."""
    from posextract_spark.operators.linking import resolve_surfaces_scored

    t = _shared_triples(spark, sf_dir)
    surfaces = t.select(F.col("subject").alias("surface_norm")).unionAll(
        t.select(F.col("object").alias("surface_norm"))
    )
    alias_df = spark.createDataFrame(_ALIAS_ROWS, "surface_norm string, canonical string")
    return resolve_surfaces_scored(surfaces, alias_df)


def q_connected_components_star(spark, sf_dir):
    """CC over a star graph (nation -> region anchor) by the O(log n)
    alternating large-star/small-star algorithm; the oracle computes the
    closed form, verifying convergence exactly."""
    from posextract_spark.operators.canonicalize import connected_components_star

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    edges = nation.select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey").cast("long") + F.lit(1000)).alias("dst"),
    )
    return connected_components_star(edges)


def q_kg_pages_pipeline(spark, sf_dir):
    """Full KG construction over the synthetic pages corpus (html -> text ->
    sentences -> kernel triples -> broadcast linking -> edge aggregation),
    hash-checked against the closed-form expected edge set (the template
    corpus's triples are exactly known — posextract_spark/oracles.py)."""
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    pages = generate_pages(spark, 200, seed=42, n_partitions=8)
    nodes, edges = kg_from_pages(pages, alias_table(spark))
    return edges.select("src", "predicate", "dst", "weight")


def q_kg_nodes_canonical(spark, sf_dir):
    """SURVEY §7.6 full chain (VERDICT r5 item 3): pages -> triples ->
    SCORED fuzzy linking -> link + co-reference edges -> connected
    components -> canonical nodes. The corpus is generate_pages plus three
    typo pages (sources/pages.py TYPO_SENTENCES) so all three
    canonicalization behaviors carry oracle signal: exact dictionary hits,
    a fuzzy link ('AcmeCorpX' -> acme, bigram Jaccard 7/8), and an
    anchor-less co-reference cluster ('Quixote'+'Quixotec', linked by a CC
    edge only). Oracle: full generator replay + Python mirror of the
    scorer/union-find (posextract_spark/oracles.py)."""
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages, typo_pages

    pages = generate_pages(spark, 200, seed=42, n_partitions=8).unionAll(
        typo_pages(spark)
    )
    nodes, _edges = kg_from_pages(pages, alias_table(spark), canonicalize=True)
    return nodes.select(
        "canonical",
        "entity_id",
        F.concat_ws("|", "surface_forms").alias("surfaces"),
        "n_mentions",
    )


def q_validate_data(spark, sf_dir):
    """P5 filter; the corpus is lowercase, so upcase even doc_ids' first
    letter (mirrored in the oracle) to make the filter discriminative."""
    from posextract_spark.operators.evalops import validate_data

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.upper(F.substring(F.col("text"), 1, 1)), F.expr("substring(text, 2)")),
        ).otherwise(F.col("text")),
    )
    return validate_data(docs).select("doc_id", "num_words")


def q_syntax_check(spark, sf_dir):
    from posextract_spark.operators.evalops import syntax_check

    # coalesce NULL -> '' so value hashing is engine-agnostic
    return syntax_check(_docs(spark, sf_dir)).select(
        "doc_id", F.coalesce(F.col("syntax_check"), F.lit("")).alias("syntax_check")
    )


def q_tag_sentence(spark, sf_dir):
    from posextract_spark.operators.evalops import tag_sentence

    return tag_sentence(_docs(spark, sf_dir)).select(
        "doc_id", F.coalesce(F.col("tag"), F.lit("")).alias("tag")
    )


def q_stratified_take(spark, sf_dir):
    """P8's per-tag draw (reference select_sentences.py:69 samples 10 per
    tag randomly — irreproducible): deterministic first-10-per-tag by id
    via a row_number window, identical at any cluster size."""
    from posextract_spark.operators.evalops import stratified_take, tag_sentence

    tagged = tag_sentence(_docs(spark, sf_dir)).select("doc_id", "tag")
    return stratified_take(tagged, tag_col="tag", id_col="doc_id", n_per_tag=10)


def q_sample_n(spark, sf_dir):
    """P8 parity: seeded hash-order sample — identical draw at any
    parallelism (reference df.sample is not reproducible)."""
    from posextract_spark.operators.evalops import sample_n

    return sample_n(_docs(spark, sf_dir), n=50, seed=7).select("doc_id")


def q_sample_fraction(spark, sf_dir):
    from posextract_spark.operators.evalops import sample_fraction

    return sample_fraction(_docs(spark, sf_dir), fraction=0.1, seed=7).select("doc_id")


def q_salted_doc_counts(spark, sf_dir):
    """Two-phase salted aggregation over a hot grouping key — the
    skew-safe groupBy primitive the north rule mandates for head-entity
    skew (operators/canonicalize.py:salted_counts). The salt bounds
    per-partition width on a hot key; the RESULT is identical to a direct
    GROUP BY, which is exactly what the oracle checks (the salting is an
    execution property, pinned separately by its parity unit test).
    The salt derives from doc_id (r5, ADVICE r4): deterministic in the
    data, so a cluster-side stage retry re-derives identical (key, salt)
    partials — the nondeterministic monotonically_increasing_id fallback
    could double-/drop-count under recompute (SPARK-23207-class)."""
    from posextract_spark.operators.canonicalize import salted_counts

    docs = _docs(spark, sf_dir).select(F.col("source"), F.col("doc_id"))
    return salted_counts(docs, "source", n_salts=16, count_alias="n_docs", id_col="doc_id")


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/mldata.py):
    split = md5-hash(doc_id) mod 100 bucketed 90/5/5. Pure scan-side
    projection — stable under repartitioning/appends/retries, unlike
    rand()-based splits."""
    from posextract_spark.operators.mldata import hash_split

    return hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_pack_sequences(spark, sf_dir):
    """Budgeted training-sequence packing assignment: hash-bucketed docs,
    per-bucket running token offset, seq_bin = floor(offset / budget).
    The per-bucket window is the honest sequential core of packing;
    n_buckets bounds it (operators/mldata.py)."""
    from posextract_spark.operators.mldata import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_buckets=32)


def q_minhash_dedup_against_base(spark, sf_dir):
    """Append-only incremental near-dup dedup: odd doc_ids are the new
    snapshot, even the existing corpus; a new doc is flagged when any of
    its LSH band keys exists in the base (bucket-summary join — base side
    pre-aggregated to one row per bucket, never quadratic)."""
    from posextract_spark.operators.dedup import minhash_dedup_against_base

    docs = _docs(spark, sf_dir)
    return minhash_dedup_against_base(
        docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
    )


_MIXTURE_RATES = {"src0": 1000000, "src1": 500000, "src2": 120000, "src3": 0}


def q_sample_mixture(spark, sf_dir):
    """Deterministic per-source mixture sampling (parts-per-million rates,
    md5 threshold — same stability class as hash_split): keep all of src0,
    half of src1, 12% of src2, none of src3, 25% default for the rest."""
    from posextract_spark.operators.mldata import sample_mixture

    return sample_mixture(
        _docs(spark, sf_dir).select("doc_id", "source"),
        _MIXTURE_RATES,
        default_rate_e6=250000,
    )


def q_kg_edges_incremental(spark, sf_dir):
    """Batch-incremental graph maintenance: the pages corpus is split into
    two disjoint snapshots by url hash, each built into an edge aggregate
    independently, then merged (operators/graph.py merge_edge_deltas).
    The oracle is the EXISTING full-corpus replay (kg_pages_edges_sql) —
    a green row proves merge(edges(A), edges(B)) == edges(A ∪ B), i.e.
    per-snapshot incremental runs reproduce the from-scratch build
    exactly."""
    from posextract_spark.operators.graph import merge_edge_deltas
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    pages = generate_pages(spark, 200, seed=42, n_partitions=8)
    half_a = pages.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(2)) == 0)
    half_b = pages.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(2)) == 1)
    alias_df = alias_table(spark)
    # persist=False: edges is the only consumer EXECUTED here (the nodes
    # frame is returned lazily and never run), so the fan-out cache would
    # be pure overhead plus a leaked block set per sweep
    _n_a, edges_a = kg_from_pages(half_a, alias_df, persist=False)
    _n_b, edges_b = kg_from_pages(half_b, alias_df, persist=False)
    return merge_edge_deltas(edges_a, edges_b).select(
        "src", "predicate", "dst", "weight"
    )


def q_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle for training order: seed-keyed md5
    permutation sharded so the sequential scope is one shard (same bounded
    shape as pack_sequences); reproducible across engines/retries/appends
    — no rand() anywhere."""
    from posextract_spark.operators.mldata import shuffle_shards

    return shuffle_shards(_docs(spark, sf_dir), n_shards=32, seed=0)


def q_cap_per_domain(spark, sf_dir):
    """Per-domain doc cap over the synthesized messy-URL corpus (20
    domains x 25 docs at sf0.01): cap=10 < 25, so every domain takes the
    deterministic hash-threshold sample path (shared capping policy;
    expected width 10). Oracle mirrors the md5 threshold with a window
    width count."""
    from posextract_spark.operators.urls import cap_per_domain

    urls = q_url_normalize(spark, sf_dir).select("doc_id", "host")
    return cap_per_domain(urls, cap=10)


def _dirty_paragraph_docs(spark, sf_dir):
    """Deterministically dirtied corpus for the paragraph-dedup pair: every
    doc gains a shared boilerplate paragraph; every third doc repeats its
    own text paragraph (mirrored verbatim in the DuckDB SQL)."""
    from posextract_spark.operators.textops import PARA_BOILER

    sep = F.lit("\n\n")
    docs = _docs(spark, sf_dir)
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), sep, F.lit(PARA_BOILER), sep, F.col("text")),
        ).otherwise(F.concat(F.col("text"), sep, F.lit(PARA_BOILER))),
    )


def q_dedup_paragraphs(spark, sf_dir):
    """Intra-document paragraph dedup (C4-style within-page span removal):
    order-preserving first occurrence, pure scan-side projection. The
    oracle pins Spark's array_distinct ORDERING (DuckDB's list_distinct is
    unordered, so the mirror uses a row_number window)."""
    from posextract_spark.operators.textops import dedup_paragraphs

    return dedup_paragraphs(_dirty_paragraph_docs(spark, sf_dir))


def q_dedup_paragraphs_global(spark, sf_dir):
    """Corpus-global paragraph dedup: each distinct paragraph survives only
    at its (min doc_id, min pos) first occurrence — map-side-combinable
    winner agg + equijoin + per-doc rebuild (operators/textops.py scale
    notes)."""
    from posextract_spark.operators.textops import dedup_paragraphs_global

    return dedup_paragraphs_global(_dirty_paragraph_docs(spark, sf_dir))


def q_pack_sequence_spans(spark, sf_dir):
    """Export step over the packing assignment (VERDICT r5 item 4): one
    row per (document, training sequence) with explicit straddle
    carry-over — (bucket, seq_bin, tok_start, tok_end, seq_offset). Pure
    projection + explode over the assignment; same single per-bucket
    window shuffle."""
    from posextract_spark.operators.mldata import pack_sequence_spans

    return pack_sequence_spans(_docs(spark, sf_dir), budget=512, n_buckets=32)


def q_decontaminate(spark, sf_dir):
    """Train-vs-eval n-gram contamination: per-train-doc count of distinct
    eval-set 5-gram shingles it contains (broadcast eval shingle set; the
    train side never shuffles before the final per-doc count). Eval set =
    the deterministic doc_id % 29 == 0 subset, mirrored in the oracle."""
    from posextract_spark.operators.mldata import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    return decontaminate(docs, ev)


def q_bpe_train_merges(spark, sf_dir):
    """Full sequential BPE tokenizer TRAINING (operators/mldata.py
    bpe_train): 8 merge iterations over the frequency-weighted distinct
    word vocabulary; one corpus shuffle total (the localCheckpointed
    word count), vocabulary-bounded per-iteration jobs, O(n_merges)
    driver traffic. Oracle: the loop unrolled as CTE levels."""
    from posextract_spark.operators.mldata import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=8)


def q_source_quality_report(spark, sf_dir):
    """Per-ingestion-source curation dashboard: classifier keep rate and
    total score per source (operators/classifier.source_quality_report).
    Score reported as a TOTAL, never a mean — negative integer division
    truncates in Spark but floors in DuckDB."""
    from posextract_spark.operators.classifier import source_quality_report

    return source_quality_report(_docs(spark, sf_dir))


def q_corpus_length_quantiles(spark, sf_dir):
    """One-row corpus length report with EXACT nearest-rank percentiles
    (operators/textops.corpus_length_quantiles): groupBy on the bounded
    token-count domain, cumulative sum over that domain-sized frame
    (never the corpus), integer rank math — approx_percentile would be
    engine-divergent."""
    from posextract_spark.operators.textops import corpus_length_quantiles

    return corpus_length_quantiles(_docs(spark, sf_dir))


def q_cms_top_tokens(spark, sf_dir):
    """Count-Min sketch heavy-hitter check (operators/sketches.py
    cms_build/cms_estimate): build a 4x1024 sketch of token frequencies,
    then point-estimate the top-20 exact tokens through it — emits
    (token, n_exact, n_est); n_est >= n_exact is the CMS one-sided
    guarantee the oracle value-checks. Sketch hashing is
    vocabulary-bounded (built over the distinct-word count frame)."""
    from posextract_spark.operators.sketches import cms_build, cms_estimate
    from posextract_spark.functions.hashing import word_array

    docs = _docs(spark, sf_dir)
    sketch = cms_build(docs, width=1024, depth=4)
    # the 20-row top-k frame has TWO consumers (the estimate probe and the
    # final join) and is itself a full corpus aggregation — materialize it
    # once (r8; Catalyst has no plan-level CTE reuse, so each consumer
    # re-ran the corpus explode + groupBy + top-k)
    wc = (
        docs.select(F.explode(word_array(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("w").asc())
        .limit(20)
        .select(F.col("w").alias("token"), "n_exact")
        .localCheckpoint(eager=True)
    )
    est = cms_estimate(wc.select("token"), sketch, width=1024, depth=4)
    return wc.join(est, "token").select("token", "n_exact", "n_est")


def q_minhash_dedup_best_survivors(spark, sf_dir):
    """Quality-aware dedup survivor selection: same near-dup clusters as
    minhash_dedup_survivors, but each cluster keeps its LONGEST member
    (ties by min id) — 'keep the most complete copy'. Winner per cluster
    via the shared map-side argmax (no ranking Window on hot clusters)."""
    from posextract_spark.operators.dedup import minhash_dedup_best_survivors

    return minhash_dedup_best_survivors(_docs(spark, sf_dir))


def q_corpus_index_pipeline(spark, sf_dir):
    """END-TO-END curate->embed->index chain as ONE query: learned
    quality filter (the bootstrapped NB classifier's pred_keep, NOT the
    raw heuristic) -> SRP hash embeddings of the kept docs -> LSH bucket
    histogram (the index-shard size table a retrieval build produces).
    Each stage is the already-oracle-checked operator; this pins their
    COMPOSITION (bucket populations genuinely depend on the learned keep
    set). Oracle: classifier mirror nested as a derived table ->
    hash-embed CTEs over the kept docs -> the same plane-sign bucket
    formula."""
    from posextract_spark.operators.classifier import quality_classifier_scores
    from posextract_spark.operators.similarity import hash_embed, lsh_bucket_expr

    docs = _docs(spark, sf_dir)
    kept = (
        quality_classifier_scores(docs)
        .filter(F.col("pred_keep") == 1)
        .select("doc_id")
    )
    emb = hash_embed(docs.join(kept, "doc_id"), dim=32)
    return (
        emb.select(lsh_bucket_expr(6, "embedding").alias("bucket"), "doc_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
    )


def q_corpus_ann_index_pipeline(spark, sf_dir):
    """Raw text -> STORED IVF-PQ index, end to end: classifier keep ->
    SRP hash embeddings (dim 32) -> one scan-side projection emitting
    each kept doc's coarse inverted-list assignment + m PQ codes — the
    (doc, centroid_id, subspace, code) table a 100-TB deployment writes
    partitioned by centroid_id so ivf_pq_topk's probe filter becomes
    partition pruning. Quantizers are the id-slice convention over the
    embedded KEPT set (so the model depends on the learned keep set —
    the composition carries signal). Oracle: classifier mirror ->
    hash-embed CTEs -> pq_index_ctes over the same derived relation."""
    from posextract_spark.operators.classifier import quality_classifier_scores
    from posextract_spark.operators.similarity import hash_embed, pq_index_rows

    docs = _docs(spark, sf_dir)
    kept = (
        quality_classifier_scores(docs)
        .filter(F.col("pred_keep") == 1)
        .select("doc_id")
    )
    embd = hash_embed(docs.join(kept, "doc_id"), dim=32)
    return pq_index_rows(embd, id_col="doc_id", vec_col="embedding")


def q_corpus_clusters(spark, sf_dir):
    """Document clustering straight off raw text — the domain-mixing /
    corpus-composition report a pretraining data pipeline runs: SRP hash
    embeddings (dim 32) -> 2-iteration k-means TRAINED ON THE DOCS
    (engine-exact integer fixed-point, so the model is hashable) ->
    per-cluster size / min-doc / total-similarity report. The embedded
    frame is persisted once (Catalyst has no plan-level CTE reuse) and
    re-read by every Lloyd pass + the final scan-side assignment; the
    report is one combinable groupBy over k groups. Oracle: hash-embed
    CTEs -> unrolled Lloyd chain over the embedded relation -> the same
    assignment argmax."""
    from posextract_spark.operators.similarity import (
        hash_embed,
        ivf_assign,
        kmeans_centroids,
    )

    embd = hash_embed(_docs(spark, sf_dir), dim=32).persist()
    cents = kmeans_centroids(embd, k=8, n_iter=2, id_col="doc_id", vec_col="embedding")
    a = ivf_assign(embd, k=8, id_col="doc_id", vec_col="embedding", centroids=cents)
    return a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.sum("sim_e6").cast("long").alias("sum_sim_e6"),
    )


def q_passage_search_topk(spark, sf_dir):
    """Passage-level retrieval, the RAG-indexing composition: documents
    -> fixed-size overlapping chunks (textops.chunk_documents) -> SRP
    embeddings per chunk -> cosine top-25 against chunk (doc 0, chunk 0).
    Surrogate pid = doc_id*1000000 + chunk_id keeps the embedding/topk
    machinery single-keyed; the output splits it back. The multiplier
    bounds chunk_id at 1e6 (a ~24M-word doc at chunk_size=32/overlap=8)
    and the filter below makes an overflow LOUD (row count drops and the
    oracle — which keeps all chunks — mismatches) instead of silently
    mis-keying. Every stage is the already-oracle-checked operator; this
    row pins the composition."""
    from posextract_spark.operators.similarity import hash_embed_topk
    from posextract_spark.operators.textops import chunk_documents

    ch = chunk_documents(_docs(spark, sf_dir), chunk_size=32, overlap=8)
    p = ch.filter(F.col("chunk_id") < 1000000).select(
        (F.col("doc_id") * 1000000 + F.col("chunk_id")).alias("pid"), "chunk_text"
    )
    top = hash_embed_topk(p, query_id=0, k=25, dim=16, text_col="chunk_text", id_col="pid")
    return top.select(
        F.expr("pid div 1000000").cast("long").alias("doc_id"),
        F.expr("pid % 1000000").cast("long").alias("chunk_id"),
        "sim_e6",
    )


def q_hash_embeddings_idf(spark, sf_dir):
    """IDF-weighted SRP embeddings (operators/similarity.hash_embed_idf):
    token votes weighted by the binary-length integer idf so stopwords
    stop dominating the signs — the tf-idf upgrade over hash_embeddings.
    Costs one extra vocab-keyed shuffle (the df table, broadcast back).
    Contract shape: exploded to scalars like hash_embeddings."""
    from pyspark.sql import functions as FF

    from posextract_spark.operators.similarity import hash_embed_idf

    e = hash_embed_idf(_docs(spark, sf_dir), dim=32)
    return e.select("doc_id", FF.posexplode("embedding").alias("j", "component"))


def q_kg_shortest_paths(spark, sf_dir):
    """Weighted cheapest-evidence-chain distances from the 's%' seed
    entities over the triple graph (delta-frontier Bellman-Ford,
    operators/graph_analytics.shortest_paths). Edge cost = 1000000 div
    co-occurrence count + 1, so strongly-evidenced links are cheap —
    integer, positive, oracle-exact. Oracle = unrolled full-relaxation
    levels (same fixpoint: min is idempotent)."""
    from posextract_spark.operators.graph_analytics import shortest_paths

    edges = (
        _kg_edge_list(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "src", "dst", (F.expr("1000000 div _n") + F.lit(1)).alias("weight")
        )
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .filter(F.col("node").startswith("s"))
        .distinct()
    )
    return shortest_paths(edges, seeds, max_iters=4)


def q_hash_embeddings(spark, sf_dir):
    """Feature-hash (SRP) document embeddings straight from text — the
    model-free text->vector bridge that lets the ANN family run on a raw
    corpus (operators/similarity.py hash_embed). Pure scan-side integer
    projection: one portable hash per token, literal bit masks, no
    shuffle, no UDF. Contract shape: the embedding is exploded to
    (doc_id, j, component) scalar rows — the gate/driver hashers
    stringify scalars, not arrays (minhash_signatures precedent)."""
    from pyspark.sql import functions as FF

    from posextract_spark.operators.similarity import hash_embed

    e = hash_embed(_docs(spark, sf_dir), dim=32)
    return e.select(
        "doc_id", FF.posexplode("embedding").alias("j", "component")
    )


def q_hash_embed_topk(spark, sf_dir):
    """End-to-end text ANN: hash_embed the corpus, cosine top-25 against
    document 0's embedding (O(dim) collected literal; shared persisted
    embedding scan; TakeOrderedAndProject)."""
    from posextract_spark.operators.similarity import hash_embed_topk

    return hash_embed_topk(_docs(spark, sf_dir), query_id=0, k=25, dim=32)


def q_bpe_trained_vocab(spark, sf_dir):
    """Train->apply composition: corpus token frequencies after encoding
    with the merges bpe_train just learned on the SAME corpus — the
    artifact a tokenizer-coverage analysis reads. Spark side ships the
    8 learned merges through the driver (O(1) model artifact, k-means
    precedent); the oracle reuses the unrolled train chain's final
    encoding directly."""
    from posextract_spark.operators.mldata import (
        bpe_encode_token_counts,
        bpe_train,
    )

    docs = _docs(spark, sf_dir)
    merges = [
        (r["a"], r["b"])
        for r in bpe_train(docs, n_merges=8).orderBy("rank").collect()
    ]
    return bpe_encode_token_counts(docs, merges)


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-gated contamination count (operators/bloom.py): same query
    as q_decontaminate but membership goes through a 63-bit-word packed
    Bloom filter built from the eval shingles — the fixed-size scale
    path (m_bits/8 bytes broadcast, whatever the eval set's cardinality).
    Superset semantics vs the exact row set are property-pinned in
    tests/test_bloom.py; here the whole bloom pipeline is value-hashed
    against its DuckDB mirror."""
    from posextract_spark.operators.bloom import decontaminate_bloom

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    return decontaminate_bloom(docs, ev, m_bits=63 * 2048, k=5)


def q_training_corpus_pipeline(spark, sf_dir):
    """The END-TO-END curation chain a training run actually consumes, as
    ONE composed query: quality filter (keep=1) -> minhash near-dup
    survivors WITHIN the kept set -> drop eval-contaminated docs
    (doc_id % 29 eval suite, same rule as q_decontaminate) ->
    deterministic train/val/test assignment. Output: (doc_id, split) for
    the final training corpus. Each stage is the already-oracle-checked
    operator; this query pins their COMPOSITION (cluster structure
    genuinely depends on the filtered input set, so survivors-inside-kept
    is not derivable from the standalone survivors row). Oracle: one
    WITH RECURSIVE chain embedding the same stage mirrors over the same
    intermediate relations."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors
    from posextract_spark.operators.mldata import decontaminate, hash_split
    from posextract_spark.operators.textops import corpus_quality_filter

    docs = _docs(spark, sf_dir)
    # narrow per-stage id frames materialized once (r8): each later stage
    # otherwise re-derived its whole prefix (the quality filter executed
    # inside the dedup checkpoint, again under the shingle scan, again
    # under the final anti-join — Catalyst has no plan-level CTE reuse);
    # same composition, same rows
    kept_ids = (
        corpus_quality_filter(docs).filter(F.col("keep") == 1).select("doc_id")
        .localCheckpoint(eager=True)
    )
    kept_docs = docs.join(kept_ids, "doc_id")
    surv_ids = (
        minhash_dedup_survivors(kept_docs)
        .filter(F.col("is_survivor") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    clean_docs = kept_docs.join(surv_ids, "doc_id")
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    contaminated = decontaminate(clean_docs, ev).select("doc_id")
    final = clean_docs.join(contaminated, "doc_id", "anti")
    return hash_split(final.select("doc_id"))


def q_training_corpus_pipeline_bloom(spark, sf_dir):
    """The curation chain in its 100-TB configuration (VERDICT r6 item 6):
    the TRAINED NB classifier replaces the heuristic keep rule
    (pred_keep=1) and the register-blocked BLOOM filter replaces the
    exact broadcast decontamination — the regime where the eval shingle
    set no longer fits a broadcast. Composition: classifier keep ->
    minhash survivors within kept -> bloom-flagged drop (superset of the
    exact flag set: false positives only COST coverage, never leak eval
    data) -> hash split. Oracle: one WITH RECURSIVE chain embedding the
    classifier mirror as a derived table, the survivors CTEs over the
    kept set, and bloom_decontaminate_ctes over the cleaned set."""
    from posextract_spark.operators.bloom import decontaminate_bloom
    from posextract_spark.operators.classifier import quality_classifier_scores
    from posextract_spark.operators.dedup import minhash_dedup_survivors
    from posextract_spark.operators.mldata import hash_split

    docs = _docs(spark, sf_dir)
    # same narrow-id-frame materialization as q_training_corpus_pipeline
    # (r8): the classifier's two corpus passes would otherwise re-run
    # under every later stage
    kept_ids = (
        quality_classifier_scores(docs)
        .filter(F.col("pred_keep") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    kept_docs = docs.join(kept_ids, "doc_id")
    surv_ids = (
        minhash_dedup_survivors(kept_docs)
        .filter(F.col("is_survivor") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    clean_docs = kept_docs.join(surv_ids, "doc_id")
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    contaminated = decontaminate_bloom(
        clean_docs, ev, m_bits=63 * 2048, k=5
    ).select("doc_id")
    final = clean_docs.join(contaminated, "doc_id", "anti")
    return hash_split(final.select("doc_id"))


def q_training_corpus_pipeline_fuzzy(spark, sf_dir):
    """The curation chain with the FUZZY decontamination policy: docs
    stay unless >= 50% of their tokens are covered by eval shingles —
    the 'one quoted sentence should not kill a long article' regime
    (GPT-3-style token-overlap thresholding), vs the exact pipeline's
    any-hit drop. Composition: heuristic keep -> minhash survivors
    within kept -> contaminated_token_fraction >= 500000 drop ->
    hash split. Oracle: the same stage mirrors chained, with the
    _ctf CTE fragment over the cleaned set."""
    from posextract_spark.operators.dedup import minhash_dedup_survivors
    from posextract_spark.operators.mldata import decontaminate_fuzzy, hash_split
    from posextract_spark.operators.textops import corpus_quality_filter

    docs = _docs(spark, sf_dir)
    # narrow-id-frame materialization, as in q_training_corpus_pipeline (r8)
    kept_ids = (
        corpus_quality_filter(docs).filter(F.col("keep") == 1).select("doc_id")
        .localCheckpoint(eager=True)
    )
    kept_docs = docs.join(kept_ids, "doc_id")
    surv_ids = (
        minhash_dedup_survivors(kept_docs)
        .filter(F.col("is_survivor") == 1)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    clean_docs = kept_docs.join(surv_ids, "doc_id")
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    final = decontaminate_fuzzy(clean_docs, ev, max_frac_e6=500000)
    return hash_split(final.select("doc_id"))


def q_curation_funnel_report(spark, sf_dir):
    """Funnel observability: per-stage survivor counts through the
    curation chain (raw -> quality -> dedup -> decontaminated) — the
    dashboard row that catches a stage collapsing before a training run
    consumes the output (operators/mldata.curation_funnel_report)."""
    from posextract_spark.operators.mldata import curation_funnel_report

    docs = _docs(spark, sf_dir)
    return curation_funnel_report(docs, docs.filter(F.col("doc_id") % 29 == 0))


def q_key_skew_report(spark, sf_dir):
    """Pre-flight join-key skew diagnostic: top-20 hottest user_id values
    in the events stream with fixed-point pct/cumulative shares
    (operators/diagnostics.key_skew_report)."""
    from posextract_spark.operators.diagnostics import key_skew_report

    return key_skew_report(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "user_id", top_n=20
    )


def q_hdr_length_quantiles(spark, sf_dir):
    """Mergeable HDR-histogram quantiles of document length (n_chars):
    bounded 2^-5 relative error, O(64 * 32) sketch rows regardless of
    corpus size — the approximate counterpart of the exact
    corpus_length_quantiles (operators/sketches.hdr_quantiles)."""
    from posextract_spark.operators.sketches import hdr_quantiles

    return hdr_quantiles(_docs(spark, sf_dir), "n_chars")


def q_corpus_datacard(spark, sf_dir):
    """The one-query corpus datasheet: doc/token/char totals, lang and
    source cardinalities, exact-dup count, contaminated-doc count vs
    the %29 eval split (operators/diagnostics.corpus_datacard)."""
    from posextract_spark.operators.diagnostics import corpus_datacard

    docs = _docs(spark, sf_dir)
    return corpus_datacard(docs, docs.filter(F.col("doc_id") % 29 == 0))


#: mixture-plan target shares for the contract query: three tiers over
#: the 20 synthetic sources, summing to 1e6
_MIX_PPM = {f"src{i}": [20000, 50000, 80000][i % 3] for i in range(20)}


def q_curriculum_order(spark, sf_dir):
    """Curriculum training order: HDR-sketch decile buckets on document
    length + hash-stable within-bucket shuffle — easy-to-hard schedule
    without a global sort (operators/mldata.curriculum_order)."""
    from posextract_spark.operators.mldata import curriculum_order

    return curriculum_order(_docs(spark, sf_dir), "n_chars")


def q_mixture_plan(spark, sf_dir):
    """Deterministic source-mixture planning: per-source token counts +
    target ppm shares -> the largest corpus honoring every share and the
    per-source sampling rates to feed sample_mixture
    (operators/mldata.mixture_plan)."""
    from posextract_spark.operators.mldata import mixture_plan

    return mixture_plan(_docs(spark, sf_dir), _MIX_PPM)


def q_events_by_type_day(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # day as a STRING 'yyyy-MM-dd' (not date_trunc's TIMESTAMP): DuckDB
    # renders timestamps as datetime64[us], Spark as [ns], and DATE itself
    # pandas-ifies divergently (datetime.date objects vs datetime64) — a
    # string column hashes identically under any canonicalizer.
    return ev.groupBy(
        F.col("event_type"), F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # per-row round to exact cents THEN integer sum: order-independent
        # (floor(sum(double)*100) flips at boundaries with summation order)
        F.sum(F.round(F.col("value") * F.lit(100.0)).cast("bigint")).alias("sum_value_e2"),
    )


def q_revenue_by_nation(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * F.lit(100.0)).cast("bigint")).alias("revenue_e2"),
        )
    )


#: crawl-window bounds shared by q_web_snapshot_diff and its oracle —
#: crawl 1 (day 7 + url-index seconds) vs crawl 4 (day 28); at n=160 all
#: four statuses occur (47 added / 29 removed / 48 changed / 20 stable),
#: so every CASE branch carries oracle signal
_DIFF_OLD_WINDOW = ("2024-01-04 00:00:00", "2024-01-11 00:00:00")
_DIFF_NEW_WINDOW = ("2024-01-25 00:00:00", "2024-02-01 00:00:00")


def _recrawl_fp(spark):
    from posextract_spark.operators.temporal import with_fingerprint
    from posextract_spark.sources.pages import generate_recrawls

    return with_fingerprint(generate_recrawls(spark, 160, seed=42))


def q_web_latest_capture(spark, sf_dir):
    """Newest capture per url over the multi-crawl corpus — the
    pre-extraction dedup a Common-Crawl pipeline runs so re-captured
    pages are counted once (operators/temporal.latest_capture:
    deterministic struct-max, one map-side-combined shuffle, no Window).
    Oracle = generator replay of the INPUT captures + independent DuckDB
    row_number formulation (oracles.web_latest_capture_sql)."""
    from posextract_spark.operators.temporal import latest_capture

    lc = latest_capture(_recrawl_fp(spark))
    return lc.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("fp").alias("text_md5"),
        "lang",
        "n_captures",
    )


def q_web_crawl_churn(spark, sf_dir):
    """Per-url content-churn profile (capture count, distinct content
    versions, first/last seen, changed flag) — churn is defined on text
    bytes, so a re-capture with identical content is not a change
    (operators/temporal.crawl_churn; at n=160: 100 changed / 60 not).
    Oracle replays the captures and GROUP BYs in DuckDB."""
    from posextract_spark.operators.temporal import crawl_churn

    ch = crawl_churn(_recrawl_fp(spark))
    return ch.select(
        "url",
        "n_captures",
        "n_versions",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "changed",
    )


def q_web_snapshot_diff(spark, sf_dir):
    """Crawl-over-crawl diff: latest capture per url inside two crawl
    windows, full-outer joined into added/removed/changed/stable — the
    churn feed an incremental KG build consumes (only 'added'+'changed'
    urls re-enter extraction). Both snapshots partition on url before
    the join, so AQE reuses the partitioning (no third shuffle)."""
    from posextract_spark.operators.temporal import snapshot_diff

    return snapshot_diff(_recrawl_fp(spark), _DIFF_OLD_WINDOW, _DIFF_NEW_WINDOW)


#: as-of bounds for the incremental recrawl build: crawl 1 vs crawl 4
_RC_TS_OLD = "2024-01-10 00:00:00"
_RC_TS_NEW = "2024-02-01 00:00:00"


def q_kg_recrawl_incremental(spark, sf_dir):
    """Incremental KG edge build over the multi-crawl corpus: re-extract
    ONLY urls whose content appeared/changed since the crawl-1 snapshot,
    retract changed urls' old triples (anti-join), keep the rest — then
    aggregate edges. The oracle is a FROM-SCRATCH replay of the as-of-
    crawl-4 snapshot (oracles.kg_recrawl_edges_sql), so the hash match
    proves incremental == scratch, update/retract semantics included
    (merge_edge_deltas is additive-only and cannot express this)."""
    from posextract_spark.operators.graph import build_edges, link_triples
    from posextract_spark.operators.temporal import incremental_triples
    from posextract_spark.sources.pages import alias_table, generate_recrawls

    pages = generate_recrawls(spark, 120, seed=42, n_partitions=8)
    t = incremental_triples(pages, _RC_TS_OLD, _RC_TS_NEW)
    return build_edges(link_triples(t, alias_table(spark)), source_col="url").select(
        "src", "predicate", "dst", "weight"
    )


#: fact-history crawl cutoffs: crawls 0-1, 0-2, all 5 (generator weeks
#: 2024-01-01 .. 2024-01-29)
_FH_CUTOFFS = (
    "2024-01-10 00:00:00",
    "2024-01-20 00:00:00",
    "2024-02-01 00:00:00",
)


def q_kg_fact_history(spark, sf_dir):
    """Temporal fact versioning over the recrawl corpus: the KG's winning
    object per (subject, predicate) AS OF each crawl cutoff, with change
    detection across cutoffs — the slowly-changing-dimension view a
    weekly-recrawl KG needs ("when did the consensus flip"). Composes
    crawl_window_snapshot x pages_to_triples x fact_history; at the
    contract scale the corpus genuinely flips winners across cutoffs
    (213 rows, 45 unchanged re-observations). Oracle = full generator
    replay + pure-Python fact-history mirror
    (oracles.kg_fact_history_sql)."""
    from posextract_spark.operators.temporal import crawl_window_snapshot, fact_history
    from posextract_spark.pipeline import pages_to_triples
    from posextract_spark.sources.pages import generate_recrawls

    pages = generate_recrawls(spark, 120, seed=42, n_partitions=8).persist()
    claims = None
    for cut in _FH_CUTOFFS:
        snap = crawl_window_snapshot(
            pages, None, cut, payload=("lang", "text", "html")
        )
        t = pages_to_triples(snap.select("url", "warc_ts", "html", "text", "lang"))
        c = t.select(
            F.col("subject").alias("src"),
            F.col("verb").alias("predicate"),
            F.lit(cut).alias("epoch"),
            F.col("object").alias("dst"),
        )
        claims = c if claims is None else claims.unionAll(c)
    out = fact_history(claims)
    # fact_history eagerly localCheckpoints its winners frame, so the
    # extraction lineage is already materialized — safe to release pages
    pages.unpersist()
    return out


def q_events_asof_view(spark, sf_dir):
    """Point-in-time join over the event stream: every click event gets
    the same user's latest at-or-before view event (feature lookup at
    event time) via the union+sort+Arrow-ffill as-of join — the primitive
    Spark lacks natively (operators/temporal.asof_join; oracle = an
    independent DuckDB row_number range-join formulation). view_value is
    rounded to exact cents so the hash is float-order-independent (same
    convention as events_by_type_day)."""
    from posextract_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("vid"),
        F.round(F.col("value") * F.lit(100.0)).cast("bigint").alias("vcents"),
    )
    out = asof_join(
        clicks,
        views,
        key="user_id",
        payload={"vid": "view_event_id", "vcents": "view_value_e2"},
    )
    return out.select("event_id", "user_id", "view_event_id", "view_value_e2")


def q_events_session_stats(spark, sf_dir):
    """Gap-based sessionization of the event stream (30-min inactivity
    gap) aggregated to per-session profiles — the clickstream/crawl-log
    primitive, built on the same union+sort+Arrow scan as the as-of join
    (operators/temporal.sessionize/session_stats; oracle = an independent
    DuckDB lag+running-sum window formulation in exact microseconds —
    epoch_us, NOT epoch: DuckDB's epoch() is a fractional double and its
    double->BIGINT cast ROUNDS while Spark's unix_timestamp floors)."""
    from posextract_spark.operators.temporal import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(ev, key="user_id", ts="ts", gap_seconds=1800)


def q_term_stats(spark, sf_dir):
    """Corpus term statistics (inverted-index profile): per lowercased
    whitespace term, document frequency + total term frequency with a
    min_df=100 rare-term floor (drops the df=25 outlier term at sf0.01, so the floor branch carries oracle signal) (operators/textops.term_stats; oracle = the
    unnest mirror term_stats_sql)."""
    from posextract_spark.operators.textops import term_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return term_stats(docs, min_df=100)


#: fixed BPE merge list for the encode contract query — deterministic and
#: data-independent (the oracle SQL is built at import time, so it cannot
#: derive merges from the corpus); includes stacked merges ("e r" then
#:"er e") so the later-merges-see-earlier-output semantics carries oracle
#: signal
_BPE_MERGES = [
    ("e", "r"),
    ("er", "e"),
    ("t", "h"),
    ("th", "e"),
    ("a", "t"),
    ("i", "n"),
    ("s", "t"),
    ("o", "r"),
]


def q_bpe_encode_tokens(spark, sf_dir):
    """BPE tokenizer APPLY step: corpus token frequencies after encoding
    with a fixed 8-merge list — vocabulary-bounded native replace chain,
    no UDF (operators/mldata.bpe_encode_token_counts; oracle = the same
    chain in DuckDB)."""
    from posextract_spark.operators.mldata import bpe_encode_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_encode_token_counts(docs, _BPE_MERGES, min_count=50)


def q_pack_bpe_sequences(spark, sf_dir):
    """Sequence packing budgeted by the REAL BPE tokenizer's per-document
    token counts, not the whitespace proxy (VERDICT r6 item 4): the
    vocabulary-bounded merge chain sizes each document, then the standard
    per-bucket window + span export lay out exactly-512-BPE-token training
    sequences (operators/mldata.pack_bpe_sequence_spans)."""
    from posextract_spark.operators.mldata import pack_bpe_sequence_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_bpe_sequence_spans(docs, _BPE_MERGES, budget=512, n_buckets=32)


#: seed vocabulary for the relevance contract query (present at every SF,
#: mixed frequencies; one absent term exercises the no-match path)
_SEED_TERMS = ["merge", "vector", "scan", "quantile", "nonexistentterm"]


def q_pq_encode(spark, sf_dir):
    """Product-quantization encoding: each embedding becomes m=4 subspace
    codes (nearest codebook centroid per subspace, same fixed-point
    cosine/min-tie rule as IVF) — the compression half of IVF-PQ
    (operators/similarity.pq_encode; oracle = the per-subspace CTE
    mirror)."""
    from posextract_spark.operators.similarity import pq_encode

    return pq_encode(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-10: the query scored against PQ CODES via
    constant-folded per-subspace lookup tables — the IVF-PQ search core
    (operators/similarity.pq_adc_topk)."""
    from posextract_spark.operators.similarity import pq_adc_topk

    return pq_adc_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), query_id=0, k=10
    )


def q_pq_encode_kmeans(spark, sf_dir):
    """PQ encoding with TRAINED per-subspace k-means codebooks (Lloyd on
    each subvector space, 2 iterations, engine-exact fixed-point
    arithmetic) — the production quantizer replacing the id-slice
    convention (operators/similarity.pq_codebooks_kmeans; oracle = m
    unrolled per-subspace Lloyd CTE chains)."""
    from posextract_spark.operators.similarity import pq_codebooks_kmeans, pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_encode(emb, codebooks=pq_codebooks_kmeans(emb, n_iter=2))


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ search, the production billion-vector ANN index shape:
    coarse IVF probe (nprobe=2 ranked inverted lists) narrows the corpus,
    PQ asymmetric-distance re-ranks only the probed rows — one scan, a
    centroid-id filter (partition pruning in production), no joins
    (operators/similarity.ivf_pq_topk)."""
    from posextract_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        query_id=0,
        k=10,
        nprobe=2,
    )


def q_ivf_pq_refine_topk(spark, sf_dir):
    """IVF-PQ with the standard REFINEMENT stage: ADC produces a
    50-candidate shortlist, exact cosine re-ranks only those raw vectors
    — how production deployments recover recall lost to quantization
    (RECALL.md quantifies the jump); only the shortlist's raw vectors are
    ever read (operators/similarity.ivf_pq_topk(refine=...))."""
    from posextract_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        query_id=0,
        k=10,
        nprobe=2,
        refine=50,
    )


def q_ann_recall_ivf(spark, sf_dir):
    """Retrieval QUALITY measured, not assumed (VERDICT r6 item 1): recall@10
    of IVF search vs brute-force cosine over the 20 smallest-id query
    vectors, one row per nprobe — the index family's analogue of the
    triples DIFFERENTIAL. Exact integer hit counts, so oracle-hashable
    (operators/similarity.ann_recall_ivf; tools/recall.py sweeps the whole
    index family into RECALL.md)."""
    from posextract_spark.operators.similarity import ann_recall_ivf

    return ann_recall_ivf(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        n_queries=20,
        k=10,
        nprobes=(1, 2, 4),
    )


def q_ann_recall_ivf_kmeans(spark, sf_dir):
    """ann_recall_ivf with the TRAINED coarse quantizer: the 2-iteration
    k-means centroids (engine-exact, mirrored by the unrolled Lloyd CTE
    chain) replace the id-slice init, so the production quantizer's
    retrieval quality carries a driver hash signal too."""
    from posextract_spark.operators.similarity import ann_recall_ivf, kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_recall_ivf(
        emb,
        n_queries=20,
        k=10,
        nprobes=(1, 2, 4),
        centroids=kmeans_centroids(emb, n_iter=2),
    )


def q_rrf_search_topk(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion (SIGIR 2009): the
    integer BM25-ish seed arm fused with the SRP-cosine arm by
    1e6 div (60 + rank) — rank-only fusion, scales never mix
    (operators/similarity.rrf_search_topk)."""
    from posextract_spark.operators.similarity import rrf_search_topk

    return rrf_search_topk(_docs(spark, sf_dir), _SEED_TERMS, query_id=0, k=10)


def q_seed_relevance(spark, sf_dir):
    """Top-25 documents by integer BM25-style relevance to a fixed seed
    vocabulary — the CCNet-style "looks like the seed corpus" curation
    ranking; exact integer idf/saturation so the ranking is
    partition-independent (operators/textops.seed_relevance_topk; oracle
    = the HUGEINT/printf-binary mirror)."""
    from posextract_spark.operators.textops import seed_relevance_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return seed_relevance_topk(docs, _SEED_TERMS, k=25)


def q_ngram_lm_counts(spark, sf_dir):
    """Corpus trigram count table (KenLM-style LM-training count step)
    with a min_count=3 hapax floor (operators/textops.ngram_counts;
    oracle = the unnest/list_slice mirror)."""
    from posextract_spark.operators.textops import ngram_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_counts(docs, n=3, min_count=3)


def q_ngram_count_of_counts(spark, sf_dir):
    """Good-Turing frequencies-of-frequencies over the bigram count table
    (N_r = distinct bigrams occurring exactly r times)
    (operators/textops.ngram_count_of_counts)."""
    from posextract_spark.operators.textops import ngram_count_of_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_count_of_counts(docs, n=2)


def q_lm_familiarity(spark, sf_dir):
    """Integer LM-familiarity quality score: per document, floor(mean
    corpus frequency of its bigrams) — the exact-integer stand-in for
    perplexity filtering (operators/textops.lm_familiarity; oracle =
    the join mirror)."""
    from posextract_spark.operators.textops import lm_familiarity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm_familiarity(docs, n=2)


def q_lang_distinct_texts_kmv(spark, sf_dir):
    """Sketch-estimated distinct texts per language — constant memory per
    group vs countDistinct's per-value shuffle (operators/sketches.
    distinct_kmv; oracle = the HUGEINT mirror). k=16 at contract scale so
    groups (~125-250 docs) sit in the estimator's n >= k regime; the
    accuracy pytest runs k=256 against 20k true distinct."""
    from posextract_spark.operators.sketches import distinct_kmv

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return distinct_kmv(docs, "lang", "text", k=16)


def q_bpe_pair_counts(spark, sf_dir):
    """BPE tokenizer-training pair counts: adjacent character-pair
    frequencies weighted by word frequency — the statistic the first
    merge rule is chosen from (operators/mldata.bpe_pair_counts; oracle =
    the generate_series mirror; min_count=500 genuinely prunes the pair
    tail at sf0.01)."""
    from posextract_spark.operators.mldata import bpe_pair_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_counts(docs, min_count=500)


def _kg_pred_edges(spark, sf_dir):
    """(src, predicate, dst) predicate-edge view of the SVO triples —
    shared by the relation-level queries (metapaths / fusion)."""
    return _shared_triples(spark, sf_dir).select(
        F.col("subject").alias("src"),
        F.col("verb").alias("predicate"),
        F.col("object").alias("dst"),
    )


def q_kg_relation_stats(spark, sf_dir):
    """Per-predicate schema profile (functionality / inverse functionality
    in integer fixed-point) — the signal that decides which relations the
    fusion stage may collapse (operators/fusion.relation_stats)."""
    from posextract_spark.operators.fusion import relation_stats

    return relation_stats(_kg_pred_edges(spark, sf_dir))


#: functionality gate for the fused-edges contract query: splits the sf0.01
#: predicate vocabulary 6/11 (filter/group/merge/order/query/sort at
#: >=149425 kept; batch/hash/join/scan/stream at <=144444 dropped), so the
#: gate genuinely prunes predicates at contract scale
_FUSE_MIN_FUNC_E6 = 145_000
#: confidence floor: winners at contract scale span ~140k-1e6, so a 250k
#: floor drops real rows without emptying the result
_FUSE_MIN_CONF_E6 = 250_000


def q_kg_entity_types(spark, sf_dir):
    """Node-level predicate signature: per subject entity, the dominant
    out-predicate with deterministic min tie-break + a purity score — the
    entity-typing stage's input table (operators/fusion.
    entity_type_profile; oracle = the window-formulation mirror)."""
    from posextract_spark.operators.fusion import entity_type_profile

    return entity_type_profile(_kg_pred_edges(spark, sf_dir))


def q_kg_fused_edges(spark, sf_dir):
    """Knowledge fusion (truth discovery): majority-vote object per
    (subject, predicate) for sufficiently functional predicates, with
    deterministic min-object tie-break and an integer confidence score
    (operators/fusion.fuse_functional_relations; oracle = the independent
    window-formulation mirror fuse_functional_sql)."""
    from posextract_spark.operators.fusion import fuse_functional_relations

    return fuse_functional_relations(
        _kg_pred_edges(spark, sf_dir),
        min_functionality_e6=_FUSE_MIN_FUNC_E6,
        min_confidence_e6=_FUSE_MIN_CONF_E6,
    )


def _kg_claims(spark, sf_dir):
    """(source, src, predicate, dst) claim view of the SVO triples — each
    document is one source asserting its extracted facts (the input shape
    of the truth-discovery stage)."""
    return _shared_triples(spark, sf_dir).select(
        F.col("doc_id").alias("source"),
        F.col("subject").alias("src"),
        F.col("verb").alias("predicate"),
        F.col("object").alias("dst"),
    )


#: 3 rounds = majority vote + two reliability refinements; fixed (never
#: run-to-quiescence — weighted voting can 2-cycle, same as sync LPA)
_TD_ROUNDS = 3


def q_kg_truth_discovery(spark, sf_dir):
    """Iterative source-reliability truth discovery over the per-document
    claim view: round 1 is majority vote, rounds 2-3 reweight each document
    by its agreement with the consensus (operators/fusion.truth_discovery;
    oracle = the unrolled window-formulation mirror truth_discovery_sql)."""
    from posextract_spark.operators.fusion import truth_discovery

    return truth_discovery(_kg_claims(spark, sf_dir), rounds=_TD_ROUNDS)


def q_kg_source_trust(spark, sf_dir):
    """Per-document reliability after the final truth-discovery round —
    the source-quality signal a crawler feeds back into scheduling
    (operators/fusion.truth_discovery(return_trust=True); oracle =
    source_trust_sql)."""
    from posextract_spark.operators.fusion import truth_discovery

    _, trust = truth_discovery(
        _kg_claims(spark, sf_dir), rounds=_TD_ROUNDS, return_trust=True
    )
    return trust


def q_kg_contested_facts(spark, sf_dir):
    """Conflict detection: (subject, predicate) groups with >=2 distinct
    objects, top-2 objects by support and the contention margin — the
    review queue of a KG build (operators/fusion.contested_facts; oracle =
    the window top-2 pivot mirror contested_facts_sql)."""
    from posextract_spark.operators.fusion import contested_facts

    return contested_facts(_kg_pred_edges(spark, sf_dir))


def q_kg_random_walks(spark, sf_dir):
    """Deterministic seeded random-walk corpus over the entity graph —
    the DeepWalk-style sampling stage of KG-embedding training. At sf0.01
    entity out-degrees are 13-14, so max_out_degree=8 genuinely prunes
    adjacency (127 rows capped vs 130 uncapped, different hop choices) and
    the contract exercises the capped branch
    (operators/graph_analytics.random_walks; oracle = the unrolled
    per-step window-argmin mirror random_walks_sql)."""
    from posextract_spark.operators.graph_analytics import random_walks

    return random_walks(
        _kg_edge_list(spark, sf_dir),
        walk_length=4,
        walks_per_node=2,
        seed=7,
        max_out_degree=8,
    )


def q_kg_negative_samples(spark, sf_dir):
    """Deterministic filtered negative sampling for KG-embedding training
    (the label side of the embedding corpus; pairs with kg_random_walks).
    At sf0.01 the entity graph is a dense near-clique, so the
    filtered-positive anti-join genuinely fires: 1978 raw slots -> 924
    emitted negatives (operators/mldata.kg_negative_samples; oracle = the
    window-argmin + NOT EXISTS mirror kg_negative_samples_sql)."""
    from posextract_spark.operators.mldata import kg_negative_samples

    return kg_negative_samples(
        _kg_pred_edges(spark, sf_dir), n_negatives=2, n_buckets=4, seed=13
    )


def q_kg_predicate_similarity(spark, sf_dir):
    """Relation-synonym mining: Jaccard of distinct (subject, object) pair
    sets between predicates — the ontology-alignment signal that merges
    *acquired*/*bought*-style relations. At sf0.01 all thresholds carry
    oracle signal: max_pair_fanout=8 prunes the 8 hottest pairs (fanout
    9-10 of the 11-predicate vocabulary; common becomes a lower bound
    while denominators stay exact), and the 340k jaccard floor cuts
    55 -> 10 rows (operators/fusion.predicate_similarity; oracle = the
    independent _sql mirror)."""
    from posextract_spark.operators.fusion import predicate_similarity

    return predicate_similarity(
        _kg_pred_edges(spark, sf_dir),
        min_jaccard_e6=340_000,
        max_pair_fanout=8,
    )


def q_kg_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context) counts over the entity walk corpus —
    the actual training pairs a DeepWalk embedding run consumes; composes
    random_walks (same params as kg_random_walks) with the windowed
    walk self-join (operators/graph_analytics.skipgram_pairs; oracle =
    the regenerated walk chain + self-join mirror skipgram_pairs_sql)."""
    from posextract_spark.operators.graph_analytics import (
        random_walks,
        skipgram_pairs,
    )

    walks = random_walks(
        _kg_edge_list(spark, sf_dir),
        walk_length=4,
        walks_per_node=2,
        seed=7,
        max_out_degree=8,
    )
    return skipgram_pairs(walks, window=2, min_count=2)


def q_kg_entity_cooccurrence(spark, sf_dir):
    """Document-level entity co-occurrence with integer lift — statistical
    relatedness between entities that never share a triple. Mentions =
    (doc, subject) union (doc, object); both thresholds live at sf0.01
    (max_doc_entities=4 prunes docs mentioning 5-11 entities: 91 -> 79
    pairs; min_pairs=2 cuts one more) (operators/fusion.
    entity_cooccurrence; oracle = the independent _sql mirror)."""
    from posextract_spark.operators.fusion import entity_cooccurrence

    t = _shared_triples(spark, sf_dir)
    mentions = t.select("doc_id", F.col("subject").alias("entity")).unionAll(
        t.select("doc_id", F.col("object").alias("entity"))
    )
    return entity_cooccurrence(mentions, min_pairs=2, max_doc_entities=4)


def q_kg_fused_weighted(spark, sf_dir):
    """Quality-weighted fusion: each claim votes with its source page's
    n_chars (bigger pages vote harder) instead of a raw count — the
    composition of the fusion stage with a per-document quality signal
    (operators/fusion.fuse_weighted; oracle = the window-formulation
    mirror over the same triples-x-documents join)."""
    from posextract_spark.operators.fusion import fuse_weighted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    claims = _shared_triples(spark, sf_dir).join(docs, "doc_id").select(
        F.col("subject").alias("src"),
        F.col("verb").alias("predicate"),
        F.col("object").alias("dst"),
        "weight",
    )
    return fuse_weighted(claims, min_confidence_e6=200_000)


def q_kg_metapaths(spark, sf_dir):
    """2-hop relation-pattern mining over the triple graph: (pred_a,
    pred_b) path counts with distinct endpoint pairs — the schema-level
    rule-induction signal. max_mid_fanout=5800 genuinely drops hub mids
    at sf0.01 (69231 -> 34287 paths: agg/data/spark excluded, part/table/
    customer kept) and min_support=200 cuts 121 -> 116 rows, so both
    thresholds carry oracle signal (operators/graph_analytics.
    relation_metapaths; oracle = the independent _sql mirror)."""
    from posextract_spark.operators.graph_analytics import relation_metapaths

    return relation_metapaths(
        _kg_pred_edges(spark, sf_dir), max_mid_fanout=5800, min_support=200
    )


# --- the contract registry --------------------------------------------------


class Query(NamedTuple):
    """One contract query: its name, its build function ``(spark, sf_dir) ->
    DataFrame`` and a zero-argument callable that returns its DuckDB oracle SQL."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]


class _Module:
    """A posextract_spark module imported on first use: importing this file builds no SQL."""

    def __init__(self, name: str):
        self._name = f"posextract_spark.{name}"

    def __getattr__(self, attr: str):
        return getattr(importlib.import_module(self._name), attr)


_bloom = _Module("operators.bloom")
_classifier = _Module("operators.classifier")
_dedup = _Module("operators.dedup")
_diag = _Module("operators.diagnostics")
_evalops = _Module("operators.evalops")
_fu = _Module("operators.fusion")
_ga = _Module("operators.graph_analytics")
_gr = _Module("operators.graph")
_mldata = _Module("operators.mldata")
_pairs = _Module("operators.pairs")
_sim = _Module("operators.similarity")
_sketches = _Module("operators.sketches")
_textops = _Module("operators.textops")
_triples = _Module("operators.triples")
_urls = _Module("operators.urls")
_oracles = _Module("oracles")
_posrule = _Module("posrule")


def _svo(*parts: str) -> str:
    """An oracle over ``svo_triples``, the SQL mirror of the svo extraction.
    The KG mirrors compose on the views below; the operator modules generate
    them, so their integer arithmetic cannot drift from the Spark side."""
    return _triples.SVO_TRIPLES_CTE + "".join(parts)


def _kg_e(*parts: str) -> str:
    """Over ``kg_e``, the directed entity edges (``_kg_edge_list``)."""
    return _svo(", kg_e AS (SELECT subject AS src, object AS dst FROM svo_triples)", *parts)


def _kg_p(*parts: str) -> str:
    """Over ``kg_p``, the predicate edges (``_kg_pred_edges``)."""
    view = ", kg_p AS (SELECT subject AS src, verb AS predicate, object AS dst FROM svo_triples)"
    return _svo(view, *parts)


def _kg_c(*parts: str) -> str:
    """Over ``kg_c``, the per-document claims (``_kg_claims``)."""
    return _svo(", kg_c AS (SELECT doc_id AS source, subject AS src, verb AS predicate, "
                "object AS dst FROM svo_triples)", *parts)


# closed-form CC fixpoint over the nation->region star graph
_CC_ORACLE_SQL = (
    "WITH m AS (SELECT n_regionkey, min(n_nationkey) AS mn FROM nation GROUP BY n_regionkey) "
    "SELECT CAST(n.n_nationkey AS BIGINT) AS node, CAST(m.mn AS BIGINT) AS component "
    "FROM nation n JOIN m ON n.n_regionkey = m.n_regionkey UNION ALL "
    "SELECT CAST(1000 + n_regionkey AS BIGINT) AS node, CAST(mn AS BIGINT) AS component FROM m"
)


def _kept_embedded() -> str:
    """CTEs: the classifier-kept documents, hash-embedded (``_he_e``)."""
    return (
        "WITH kept AS (SELECT doc_id FROM ("
        + _classifier.quality_classifier_scores_sql()
        + ") WHERE pred_keep = 1),\n"
        "kept_docs AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),"
        + _sim._hash_embed_ctes(32, "kept_docs", "text", "doc_id", True)
    )


_CLEAN_DOCS = ("clean_docs AS (SELECT d.doc_id, d.text FROM documents d "
               "JOIN clean USING (doc_id)),\n")


def _after_dummy(tag: str, ctes: str) -> str:
    """``ctes`` (``, name AS (...)`` CTEs, then a SELECT) after a dummy first CTE."""
    return f"WITH _{tag}_dummy AS (SELECT 1)" + ctes


def _curation_chain(kept: str, contam: str, contaminated: str) -> str:
    """The curation chain, each stage's mirror over the composed relations:
    ``kept`` selects the kept doc_ids, ``contam`` is the CTEs after ``clean``,
    and ``contaminated`` selects the doc_ids the chain drops."""
    return (
        f"WITH RECURSIVE kept AS ({kept}),\n"
        "kept_docs AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),\n"
        + _dedup.minhash_dedup_survivors_ctes("kept_docs")
        + ",\nclean AS (SELECT kd.doc_id FROM kept_docs kd JOIN surv USING (doc_id) "
        "WHERE surv.is_survivor = 1),\n"
        + contam
        + f",\nfinal AS (SELECT doc_id FROM clean WHERE doc_id NOT IN ({contaminated}))\n"
        + _mldata.hash_split_sql("final")
    )


def _corpus_clusters_sql() -> str:
    cents, final = _sim.kmeans_cents_cte(2, 8, rel="_he_v")
    return (
        "WITH"
        + _sim._hash_embed_ctes(32, "documents", "text", "doc_id", True)
        + ",\n_he_v AS (SELECT doc_id AS vec_id, embedding FROM _he_e),\n"
        + cents[len("WITH ") :]
        + ",\n"
        + _sim._assign_ctes("F", final).lstrip()
        + """
SELECT CAST(cid AS INTEGER) AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(vec_id) AS BIGINT) AS min_doc,
       CAST(sum(sim_e6) AS BIGINT) AS sum_sim_e6
FROM assignF GROUP BY cid"""
    )


# queries() is the first EXPORT_CAP rows: the external check reads at most 50.
EXPORT_CAP = 50

REGISTRY: tuple[Query, ...] = (
    Query("svo_triples", q_svo_triples,
          lambda: _svo("SELECT doc_id, subject, verb, object FROM svo_triples")),
    Query("svo_triples_by_verb", q_svo_triples_by_verb, lambda: _svo(
        "SELECT verb, count(*) AS n_triples, count(DISTINCT doc_id) AS n_docs "
        "FROM svo_triples GROUP BY verb",
    )),
    Query("svo_triples_posrule", q_svo_triples_posrule, lambda: _svo(
        "SELECT doc_id, subject, verb, object FROM svo_triples WHERE "
        + _posrule.to_sql(
            _posrule.parse_posrule_text(_POSRULE_TEXT),
            cols={"SUBJECT": "subject", "VERB": "verb", "PREDICATE": "object"},
        )
    )),
    Query("adj_noun_pairs", q_adj_noun_pairs, lambda: _pairs.SVO_ADJ_NOUN_SQL),
    Query("subj_verb_pairs", q_subj_verb_pairs, lambda: _pairs.SVO_SUBJ_VERB_SQL),
    Query("token_count", q_token_count, lambda: _textops.TOKEN_COUNT_SQL),
    Query("quality_score", q_quality_score, lambda: _textops.QUALITY_SCORE_SQL),
    Query("language_id", q_language_id, lambda: _textops.LANGUAGE_ID_SQL),
    Query("quality_classifier_scores", q_quality_classifier_scores,
          lambda: _classifier.quality_classifier_scores_sql()),
    Query("kg_truth_discovery", q_kg_truth_discovery,
          lambda: _kg_c(_fu.truth_discovery_sql("kg_c", rounds=_TD_ROUNDS))),
    Query("kg_fact_history", q_kg_fact_history,
          lambda: _oracles.kg_fact_history_sql(120, 42, _FH_CUTOFFS)),
    Query("events_asof_view", q_events_asof_view, lambda: (
        "WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), "
        "v AS (SELECT user_id, ts, event_id AS vid, "
        "CAST(round(value * 100.0) AS BIGINT) AS vcents FROM events WHERE event_type = 'view'), "
        "j AS (SELECT c.event_id, c.user_id, v.vid, v.vcents, "
        "row_number() OVER (PARTITION BY c.event_id "
        "ORDER BY v.ts DESC, v.vid DESC, v.vcents DESC) AS rn "
        "FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts) "
        "SELECT event_id, user_id, vid AS view_event_id, "
        "vcents AS view_value_e2 FROM j WHERE rn = 1"
    )),
    Query("url_dedup_groups", q_url_dedup_groups, lambda: (
        "WITH urls_in AS (" + _URLS_IN_SQL + "), norm AS ("
        + _urls.URL_NORMALIZE_EXPR_SQL + ") "
        "SELECT url_norm, CAST(min(doc_id) AS BIGINT) AS canonical_doc_id, "
        "count(*) AS n_dups FROM norm GROUP BY url_norm"
    )),
    Query("corpus_quality_filter", q_corpus_quality_filter,
          lambda: _textops.CORPUS_QUALITY_FILTER_SQL),
    Query("chunk_documents", q_chunk_documents,
          lambda: _textops.chunk_documents_sql(chunk_size=64, overlap=16)),
    Query("exact_dedup", q_exact_dedup, lambda: _dedup.EXACT_DEDUP_SQL),
    Query("minhash_signatures", q_minhash_signatures, lambda: _dedup.MINHASH_SIGNATURES_SQL),
    Query("minhash_dedup_survivors", q_minhash_dedup_survivors,
          lambda: _dedup.MINHASH_DEDUP_SURVIVORS_SQL),
    Query("minhash_dedup_best_survivors", q_minhash_dedup_best_survivors,
          lambda: _dedup.minhash_dedup_best_survivors_sql()),
    Query("semdedup_survivors", q_semdedup_survivors,
          lambda: _sim.semdedup_survivors_sql(n_iter=2, threshold_e6=400000)),
    Query("kg_taxonomy_closure", q_kg_taxonomy_closure, lambda: _kg_e(
        ", kg_dag AS (SELECT src, dst FROM kg_e WHERE src < dst)",
        _ga.transitive_closure_sql("kg_dag", max_depth=8),
    )),
    Query("ngram_jaccard_stats", q_ngram_jaccard_stats, lambda: _dedup.NGRAM_JACCARD_STATS_SQL),
    Query("bpe_train_merges", q_bpe_train_merges,
          lambda: "WITH " + _mldata.bpe_train_sql(n_merges=8)),
    Query("ann_recall_ivf", q_ann_recall_ivf,
          lambda: _sim.ann_recall_ivf_sql(n_queries=20, k=10, nprobes=(1, 2, 4))),
    Query("pq_encode_kmeans", q_pq_encode_kmeans, lambda: _sim.pq_encode_kmeans_sql(n_iter=2)),
    Query("ivf_pq_topk", q_ivf_pq_topk, lambda: _sim.ivf_pq_topk_sql(query_id=0, k=10, nprobe=2)),
    Query("hash_embeddings", q_hash_embeddings, lambda: (
        "WITH "
        + _sim._hash_embed_ctes(32, "documents", "text", "doc_id", True)
        + "\nSELECT doc_id, CAST(j - 1 AS INT) AS j, embedding[j] AS component"
        + "\nFROM _he_e, unnest(generate_series(1, len(embedding))) AS g(j)"
    )),
    Query("cms_top_tokens", q_cms_top_tokens,
          lambda: _sketches.cms_top_tokens_sql(width=1024, depth=4, k=20)),
    Query("corpus_index_pipeline", q_corpus_index_pipeline, lambda: (
        _kept_embedded()
        + f""",
_cip AS (SELECT {_sim.lsh_bucket_expr_sql(6)} AS bucket, doc_id FROM _he_e)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM _cip GROUP BY bucket"""
    )),
    Query("kg_fused_edges", q_kg_fused_edges, lambda: _kg_p(_fu.fuse_functional_sql(
        "kg_p", min_functionality_e6=_FUSE_MIN_FUNC_E6, min_confidence_e6=_FUSE_MIN_CONF_E6
    ))),
    Query("embedding_neardup", q_embedding_neardup, lambda: _sim.neardup_bucket_stats_sql()),
    Query("media_image_features", q_media_image_features,
          lambda: _oracles.media_image_features_sql()),
    Query("decontaminate_bloom", q_decontaminate_bloom,
          lambda: _bloom.bloom_decontaminate_sql(m_bits=63 * 2048, k=5)),
    Query("kg_edges", q_kg_edges, lambda: _svo(
        "SELECT subject, verb, object, count(*) AS weight, "
        "count(DISTINCT doc_id) AS n_docs FROM svo_triples GROUP BY subject, verb, object",
    )),
    Query("kg_triangles", q_kg_triangles, lambda: _kg_e(_ga.triangle_counts_sql("kg_e"))),
    Query("kg_pagerank", q_kg_pagerank, lambda: _kg_e(_ga.pagerank_sql("kg_e", n_iters=3))),
    Query("kg_shortest_paths", q_kg_shortest_paths, lambda: _kg_e(
        ", kg_we AS (SELECT src, dst, 1000000 // count(*) + 1 AS weight "
        "FROM kg_e GROUP BY src, dst)",
        _ga.shortest_paths_sql(
            "kg_we",
            "SELECT src AS node FROM kg_we WHERE src LIKE 's%' "
            "UNION SELECT dst FROM kg_we WHERE dst LIKE 's%'",
            max_iters=4,
        ),
    )),
    Query("entity_link", q_entity_link, lambda: _svo(
        ", mentions AS (SELECT subject AS surface FROM svo_triples "
        "UNION ALL SELECT object FROM svo_triples), aliases(surface_norm, canonical) AS (VALUES "
        + ", ".join(f"('{s}', '{c}')" for s, c in _ALIAS_ROWS)
        + ") "
        "SELECT COALESCE(a.canonical, lower(trim(m.surface))) AS canonical, "
        "count(*) AS n_mentions, "
        "max(CASE WHEN a.canonical IS NOT NULL THEN 1 ELSE 0 END) AS any_linked "
        "FROM mentions m LEFT JOIN aliases a ON lower(trim(m.surface)) = a.surface_norm "
        "GROUP BY 1",
    )),
    Query("entity_link_scored", q_entity_link_scored, lambda: _svo(
        ", mentions AS (SELECT subject AS surface FROM svo_triples "
        "UNION ALL SELECT object FROM svo_triples), aliases(surface_norm, canonical) AS (VALUES "
        + ", ".join(f"('{s}', '{c}')" for s, c in _ALIAS_ROWS)
        + "), "
        "surfaces AS (SELECT DISTINCT lower(trim(surface)) AS surface_norm FROM mentions), "
        "sb AS (SELECT surface_norm, substring(surface_norm, 1, 2) AS pfx, "
        "  list_distinct(list_transform(generate_series(1, greatest(len(surface_norm)-1, 0)), "
        "    i -> substring(surface_norm, i, 2))) AS bg FROM surfaces), "
        "ab AS (SELECT substring(surface_norm, 1, 2) AS pfx, surface_norm AS asurf, "
        "  list_distinct(list_transform(generate_series(1, greatest(len(surface_norm)-1, 0)), "
        "    i -> substring(surface_norm, i, 2))) AS abg, canonical AS cand FROM aliases), "
        "scored AS (SELECT s.surface_norm, a.cand, "
        "  CASE WHEN a.abg IS NULL THEN 0 "
        "       WHEN s.surface_norm = a.asurf THEN 1000000 "
        "       WHEN (len(s.bg) + len(a.abg) - len(list_filter(s.bg, x -> list_contains(a.abg, x)))) > 0 "
        "       THEN CAST(floor(len(list_filter(s.bg, x -> list_contains(a.abg, x)))::DOUBLE "
        "            / (len(s.bg) + len(a.abg) - len(list_filter(s.bg, x -> list_contains(a.abg, x)))) "
        "            * 1000000.0) AS BIGINT) ELSE 0 END AS score "
        "  FROM sb s LEFT JOIN ab a ON s.pfx = a.pfx), "
        "best AS (SELECT surface_norm, cand, score FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY surface_norm "
        "    ORDER BY score DESC, cand DESC) AS rn FROM scored) WHERE rn = 1) "
        "SELECT surface_norm, "
        "  CASE WHEN score >= 300000 THEN cand ELSE surface_norm END AS canonical, "
        "  CAST(CASE WHEN score >= 300000 THEN score ELSE 0 END AS BIGINT) AS score_e6, "
        "  CAST(CASE WHEN score >= 300000 THEN 1 ELSE 0 END AS INT) AS linked "
        "FROM best",
    )),
    # one CC fixpoint, whatever the algorithm: connected_components shares it
    Query("connected_components_star", q_connected_components_star, lambda: _CC_ORACLE_SQL),
    Query("kg_pages_pipeline", q_kg_pages_pipeline, lambda: _oracles.kg_pages_edges_sql()),
    Query("kg_nodes_canonical", q_kg_nodes_canonical,
          lambda: _oracles.kg_pages_nodes_canonical_sql()),
    Query("stratified_take", q_stratified_take, lambda: (
        "WITH tagged AS (" + _evalops.TAG_SENTENCE_SQL + ") "
        "SELECT doc_id, tag FROM ("
        "  SELECT doc_id, tag, row_number() OVER (PARTITION BY tag ORDER BY doc_id) AS rn"
        "  FROM tagged WHERE tag <> '') "  # SQL mirror maps Spark's NULL tag to ''
        "WHERE rn <= 10"
    )),
    Query("salted_doc_counts", q_salted_doc_counts, lambda: (
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source"
    )),
    Query("hash_split", q_hash_split, lambda: _mldata.HASH_SPLIT_SQL),
    Query("pack_sequence_spans", q_pack_sequence_spans, lambda: _mldata.PACK_SEQUENCE_SPANS_SQL),
    Query("decontaminate", q_decontaminate, lambda: _mldata.DECONTAMINATE_SQL),
    Query("contaminated_token_fraction", q_contaminated_token_fraction,
          lambda: _mldata.contaminated_token_fraction_sql()),
    Query("neardup_contamination", q_neardup_contamination,
          lambda: _dedup.neardup_contamination_sql()),
    Query("bpe_fertility_stats", q_bpe_fertility_stats,
          lambda: _mldata.bpe_fertility_stats_sql(_BPE_MERGES)),
    # ---- rows past EXPORT_CAP: extra_queries() ----
    Query("minhash_band_pairs", q_minhash_band_pairs, lambda: _dedup.MINHASH_BAND_PAIRS_SQL),
    Query("lm_familiarity", q_lm_familiarity,
          lambda: _after_dummy("lm", _textops.lm_familiarity_sql("documents", n=2))),
    Query("ivf_assign", q_ivf_assign, lambda: _sim.IVF_ASSIGN_SQL),
    Query("kg_nodes", q_kg_nodes, lambda: _svo(
        ", mentions AS (SELECT subject AS surface FROM svo_triples "
        "UNION ALL SELECT object FROM svo_triples) "
        "SELECT (('0x' || substring(md5(lower(surface)), 1, 15))::BIGINT) AS entity_id, "
        "lower(surface) AS canonical, count(*) AS n_mentions FROM mentions GROUP BY lower(surface)",
    )),
    Query("kg_degree_stats", q_kg_degree_stats, lambda: _kg_e(_ga.degree_stats_sql("kg_e"))),
    Query("syntax_check", q_syntax_check, lambda: _evalops.SYNTAX_CHECK_SQL),
    Query("tag_sentence", q_tag_sentence, lambda: _evalops.TAG_SENTENCE_SQL),
    Query("mask_pii", q_mask_pii, lambda: _textops.MASK_PII_SQL),
    Query("fingerprint", q_fingerprint, lambda: _textops.FINGERPRINT_SQL),
    Query("lsh_bucket", q_lsh_bucket, lambda: _sim.lsh_bucket_sql()),
    Query("media_frame_sample", q_media_frame_sample, lambda: _oracles.media_frame_sample_sql()),
    Query("sample_fraction", q_sample_fraction,
          lambda: _evalops.sample_fraction_sql(fraction=0.1, seed=7)),
    Query("ivf_topk_kmeans", q_ivf_topk_kmeans,
          lambda: _sim.ivf_topk_kmeans_sql(k_results=10, n_iter=2)),
    # CAST(SUM(...) AS BIGINT): DuckDB's SUM(BIGINT) is a HUGEINT, which
    # pandas reads as float64 ('5695.0' against Spark's '5695')
    Query("events_by_type_day", q_events_by_type_day, lambda: (
        "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events, "
        "CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_value_e2 "
        "FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')"
    )),
    Query("revenue_by_nation", q_revenue_by_nation, lambda: (
        "SELECT n_name, count(*) AS n_orders, "
        "CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS revenue_e2 "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )),
    Query("sample_n", q_sample_n, lambda: _evalops.sample_n_sql(n=50, seed=7)),
    Query("connected_components", q_connected_components_star, lambda: _CC_ORACLE_SQL),
    Query("media_resize", q_media_resize, lambda: _oracles.media_resize_sql()),
    Query("dedup_paragraphs", q_dedup_paragraphs, lambda: _textops.DEDUP_PARAGRAPHS_SQL),
    Query("dedup_paragraphs_global", q_dedup_paragraphs_global,
          lambda: _textops.DEDUP_PARAGRAPHS_GLOBAL_SQL),
    Query("shuffle_shards", q_shuffle_shards, lambda: _mldata.SHUFFLE_SHARDS_SQL),
    Query("cap_per_domain", q_cap_per_domain, lambda: (
        "WITH urls_in AS (" + _URLS_IN_SQL + "), norm AS ("
        + _urls.URL_NORMALIZE_EXPR_SQL + ") "
        + _urls.cap_per_domain_sql(10, inner="norm")
    )),
    # incremental merge must equal the from-scratch build: SAME oracle
    Query("kg_edges_incremental", q_kg_edges_incremental, lambda: _oracles.kg_pages_edges_sql()),
    Query("minhash_dedup_against_base", q_minhash_dedup_against_base,
          lambda: _dedup.MINHASH_DEDUP_AGAINST_BASE_SQL),
    Query("sample_mixture", q_sample_mixture,
          lambda: _mldata.sample_mixture_sql(_MIXTURE_RATES, default_rate_e6=250000)),
    Query("host_link_graph", q_host_link_graph, lambda: _oracles.host_link_graph_sql()),
    Query("host_pagerank", q_host_pagerank, lambda: _oracles.host_pagerank_sql()),
    Query("dup_span_stats", q_dup_span_stats,
          lambda: _dedup.dup_span_stats_sql(window=4, sample=2)),
    Query("strip_duplicate_spans", q_strip_duplicate_spans,
          lambda: _dedup.strip_duplicate_spans_sql(window=4, sample=1)),
    Query("quality_classifier_weights", q_quality_classifier_weights,
          lambda: _classifier.quality_classifier_weights_sql()),
    Query("bpe_trained_vocab", q_bpe_trained_vocab,
          lambda: "WITH " + _mldata.bpe_trained_vocab_sql(n_merges=8)),
    Query("hash_embed_topk", q_hash_embed_topk,
          lambda: _sim.hash_embed_topk_sql(query_id=0, k=25, dim=32)),
    Query("hash_embeddings_idf", q_hash_embeddings_idf, lambda: (
        "SELECT doc_id, CAST(j - 1 AS INT) AS j, embedding[j] AS component\n"
        "FROM (WITH " + _sim.hash_embed_idf_sql(dim=32) + ") t,\n"
        "unnest(generate_series(1, len(embedding))) AS g(j)"
    )),
    Query("passage_search_topk", q_passage_search_topk, lambda: (
        "SELECT CAST(pid // 1000000 AS BIGINT) AS doc_id, "
        "CAST(pid % 1000000 AS BIGINT) AS chunk_id, sim_e6 FROM ("
        + _sim.hash_embed_topk_sql(
            query_id=0,
            k=25,
            dim=16,
            docs_rel="_ps_c",
            text_col="chunk_text",
            id_col="pid",
            extra_ctes=(
                "_ps_c AS (SELECT doc_id * 1000000 + chunk_id AS pid, chunk_text "
                "FROM (" + _textops.chunk_documents_sql(32, 8) + ")),"
            ),
        )
        + ") t"
    )),
    Query("corpus_length_quantiles", q_corpus_length_quantiles,
          lambda: _after_dummy("clq", _textops.corpus_length_quantiles_sql("documents"))),
    Query("source_quality_report", q_source_quality_report,
          lambda: _classifier.source_quality_report_sql("documents")),
    # rounds must cover the peel depth (kcore_sql fails loudly if not); the
    # sf0.01 graph peels to its 2-core in one round, so 16 is headroom
    Query("kg_kcore", q_kg_kcore, lambda: _kg_e(_ga.kcore_sql("kg_e", k=2, rounds=16))),
    Query("kg_neighbor_jaccard", q_kg_neighbor_jaccard,
          lambda: _kg_e(_ga.neighbor_jaccard_sql("kg_e", min_common=1, max_neighbor_degree=12))),
    Query("kg_communities", q_kg_communities,
          lambda: _kg_e(_ga.label_propagation_sql("kg_e", n_iters=4))),
    Query("anchor_alias_mining", q_anchor_alias_mining,
          lambda: _oracles.anchor_alias_sql(300, 42, min_count=2, min_share_e6=60_000)),
    Query("host_pagerank_weighted", q_host_pagerank_weighted,
          lambda: _oracles.host_pagerank_weighted_sql(300, 42, n_iters=3)),
    Query("kg_khop", q_kg_khop, lambda: _kg_e(_ga.khop_sql(
        "kg_e",
        "SELECT src AS node FROM kg_e WHERE src LIKE 's%' "
        "UNION SELECT dst FROM kg_e WHERE dst LIKE 's%'",
        k=2,
    ))),
    Query("kg_entity_types", q_kg_entity_types, lambda: _kg_p(_fu.entity_type_profile_sql("kg_p"))),
    Query("kg_cycle_nodes", q_kg_cycle_nodes,
          lambda: _kg_e(_ga.cycle_nodes_sql("kg_e", max_depth=6))),
    Query("kg_node_features", q_kg_node_features, lambda: _kg_e(_ga.node_features_sql("kg_e"))),
    Query("kg_export_ntriples", q_kg_export_ntriples, lambda: _kg_p(_gr.to_ntriples_sql("kg_p"))),
    Query("media_audio_features", q_media_audio_features,
          lambda: _oracles.media_audio_features_sql()),
    Query("ivf_topk", q_ivf_topk, lambda: _sim.ivf_topk_sql(k=10)),
    Query("web_latest_capture", q_web_latest_capture,
          lambda: _oracles.web_latest_capture_sql(160, 42)),
    Query("web_crawl_churn", q_web_crawl_churn, lambda: _oracles.web_crawl_churn_sql(160, 42)),
    Query("web_snapshot_diff", q_web_snapshot_diff,
          lambda: _oracles.web_snapshot_diff_sql(160, 42, _DIFF_OLD_WINDOW, _DIFF_NEW_WINDOW)),
    Query("kg_metapaths", q_kg_metapaths,
          lambda: _kg_p(_ga.relation_metapaths_sql("kg_p", max_mid_fanout=5800, min_support=200))),
    Query("kg_recrawl_incremental", q_kg_recrawl_incremental,
          lambda: _oracles.kg_recrawl_edges_sql(120, 42, _RC_TS_NEW)),
    Query("kg_relation_stats", q_kg_relation_stats, lambda: _kg_p(_fu.relation_stats_sql("kg_p"))),
    Query("kg_source_trust", q_kg_source_trust,
          lambda: _kg_c(_fu.source_trust_sql("kg_c", rounds=_TD_ROUNDS))),
    Query("kg_contested_facts", q_kg_contested_facts,
          lambda: _kg_p(_fu.contested_facts_sql("kg_p"))),
    Query("clean_text", q_clean_text, lambda: _textops.CLEAN_TEXT_SQL),
    Query("repetition_stats", q_repetition_stats, lambda: _textops.REPETITION_STATS_SQL),
    Query("url_normalize", q_url_normalize,
          lambda: "WITH urls_in AS (" + _URLS_IN_SQL + ") " + _urls.URL_NORMALIZE_EXPR_SQL),
    Query("ivf_assign_kmeans", q_ivf_assign_kmeans, lambda: _sim.ivf_assign_kmeans_sql(n_iter=2)),
    Query("kg_random_walks", q_kg_random_walks, lambda: _kg_e(
        _ga.random_walks_sql("kg_e", walk_length=4, walks_per_node=2, seed=7, max_out_degree=8)
    )),
    Query("kg_negative_samples", q_kg_negative_samples, lambda: _kg_p(
        _mldata.kg_negative_samples_sql("kg_p", n_negatives=2, n_buckets=4, seed=13)
    )),
    Query("kg_predicate_similarity", q_kg_predicate_similarity, lambda: _kg_p(
        _fu.predicate_similarity_sql("kg_p", min_jaccard_e6=340_000, max_pair_fanout=8)
    )),
    Query("kg_skipgram_pairs", q_kg_skipgram_pairs, lambda: _kg_e(_ga.skipgram_pairs_sql(
        "kg_e", window=2, min_count=2, walk_length=4, walks_per_node=2, seed=7, max_out_degree=8
    ))),
    Query("kg_entity_cooccurrence", q_kg_entity_cooccurrence, lambda: _svo(
        ", kg_m AS (SELECT doc_id, subject AS entity FROM svo_triples "
        "UNION ALL SELECT doc_id, object FROM svo_triples)",
        _fu.entity_cooccurrence_sql(
            "kg_m", min_pairs=2, max_doc_entities=4
        ),
    )),
    Query("events_session_stats", q_events_session_stats, lambda: (
        "WITH b AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 "
        "THEN 1 ELSE 0 END AS brk FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, CAST(sum(brk) OVER "
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 "
        "AS BIGINT) AS session_id FROM b) "
        "SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS start_epoch, "
        "CAST(epoch_us(max(ts)) // 1000000 AS BIGINT) AS end_epoch, "
        "CAST(epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 "
        "AS BIGINT) AS duration_sec FROM s GROUP BY user_id, session_id"
    )),
    Query("kg_fused_weighted", q_kg_fused_weighted, lambda: _svo(
        ", kg_w AS (SELECT t.subject AS src, t.verb AS predicate, "
        "t.object AS dst, CAST(d.n_chars AS BIGINT) AS weight "
        "FROM svo_triples t JOIN documents d ON d.doc_id = t.doc_id)",
        _fu.fuse_weighted_sql("kg_w", min_confidence_e6=200_000),
    )),
    Query("term_stats", q_term_stats,
          lambda: _after_dummy("ts", _textops.term_stats_sql("documents", min_df=100))),
    Query("bpe_pair_counts", q_bpe_pair_counts,
          lambda: _after_dummy("bp", _mldata.bpe_pair_counts_sql("documents", min_count=500))),
    Query("ngram_lm_counts", q_ngram_lm_counts,
          lambda: _textops.ngram_counts_sql("documents", n=3, min_count=3)),
    Query("bpe_encode_tokens", q_bpe_encode_tokens, lambda: _after_dummy(
        "be", _mldata.bpe_encode_token_counts_sql(_BPE_MERGES, min_count=50)
    )),
    Query("training_corpus_pipeline", q_training_corpus_pipeline, lambda: _curation_chain(
        f"SELECT doc_id FROM ({_textops.CORPUS_QUALITY_FILTER_SQL}) WHERE keep = 1",
        f"contam AS (SELECT doc_id FROM ({_mldata.DECONTAMINATE_SQL}))",
        "SELECT doc_id FROM contam",
    )),
    Query("ngram_count_of_counts", q_ngram_count_of_counts,
          lambda: _textops.ngram_count_of_counts_sql("documents", n=2)),
    Query("lang_distinct_texts_kmv", q_lang_distinct_texts_kmv, lambda: _after_dummy(
        "kmv", _sketches.distinct_kmv_sql("documents", "lang", "text", k=16)
    )),
    Query("seed_relevance", q_seed_relevance,
          lambda: _after_dummy("sr", _textops.seed_relevance_topk_sql(_SEED_TERMS, k=25))),
    Query("pq_encode", q_pq_encode, lambda: _sim.pq_encode_sql()),
    Query("pq_adc_topk", q_pq_adc_topk, lambda: _sim.pq_adc_topk_sql(query_id=0, k=10)),
    Query("pack_bpe_sequences", q_pack_bpe_sequences,
          lambda: _mldata.pack_bpe_sequence_spans_sql(_BPE_MERGES, budget=512, n_buckets=32)),
    Query("ivf_pq_refine_topk", q_ivf_pq_refine_topk,
          lambda: _sim.ivf_pq_topk_sql(query_id=0, k=10, nprobe=2, refine=50)),
    Query("training_corpus_pipeline_bloom", q_training_corpus_pipeline_bloom,
          lambda: _curation_chain(
              f"SELECT doc_id FROM ({_classifier.quality_classifier_scores_sql()}) "
              "WHERE pred_keep = 1",
              _CLEAN_DOCS + _bloom.bloom_decontaminate_ctes("clean_docs", m_bits=63 * 2048, k=5),
              "SELECT doc_id FROM bcontam",
          )),
    Query("training_corpus_pipeline_fuzzy", q_training_corpus_pipeline_fuzzy,
          lambda: _curation_chain(
              f"SELECT doc_id FROM ({_textops.CORPUS_QUALITY_FILTER_SQL}) WHERE keep = 1",
              _CLEAN_DOCS + _mldata.contaminated_token_fraction_ctes("clean_docs", "documents"),
              "SELECT doc_id FROM ctf_hits WHERE frac_e6 >= 500000",
          )),
    Query("curation_funnel_report", q_curation_funnel_report,
          lambda: _mldata.curation_funnel_report_sql()),
    Query("key_skew_report", q_key_skew_report,
          lambda: _diag.key_skew_report_sql("events", "user_id", 20)),
    Query("hdr_length_quantiles", q_hdr_length_quantiles,
          lambda: _sketches.hdr_quantiles_sql("documents", "n_chars")),
    Query("corpus_datacard", q_corpus_datacard, lambda: _diag.corpus_datacard_sql("documents", 29)),
    Query("hard_negatives", q_hard_negatives,
          lambda: _sim.hard_negative_mining_sql(n_queries=10, k=5, gold_offset=250)),
    Query("lsh_multiprobe_topk", q_lsh_multiprobe_topk,
          lambda: _sim.lsh_multiprobe_topk_sql(query_id=0, k=10, n_planes=4)),
    Query("curriculum_order", q_curriculum_order,
          lambda: _mldata.curriculum_order_sql("documents", "n_chars")),
    Query("kg_neighborhood_function", q_kg_neighborhood_function,
          lambda: _kg_e(_ga.neighborhood_function_sql("kg_e", n_hops=3, n_masks=4))),
    Query("mixture_plan", q_mixture_plan, lambda: _mldata.mixture_plan_sql(_MIX_PPM)),
    Query("kg_link_from_anchors", q_kg_link_from_anchors, lambda: _oracles.link_from_anchors_sql(
        300, 120, seed_dict=42, seed_probe=7, min_count=2, min_share_e6=60_000
    )),
    Query("ann_recall_ivf_kmeans", q_ann_recall_ivf_kmeans,
          lambda: _sim.ann_recall_ivf_sql(n_queries=20, k=10, nprobes=(1, 2, 4), trained_iters=2)),
    Query("corpus_ann_index_pipeline", q_corpus_ann_index_pipeline, lambda: (
        _kept_embedded()
        + ",\n"
        + _sim.pq_index_ctes("_he_e", dim=32, id_col="doc_id")
        + "\nSELECT vec_id AS doc_id, centroid_id, subspace, code FROM pq_index"
    )),
    Query("corpus_clusters", q_corpus_clusters, _corpus_clusters_sql),
    Query("ngram_jaccard_pairs", q_ngram_jaccard_pairs, lambda: _dedup.NGRAM_JACCARD_PAIRS_SQL),
    Query("minhash_pair_quality", q_minhash_pair_quality,
          lambda: _dedup.minhash_pair_quality_sql()),
    Query("leakage_safe_split", q_leakage_safe_split, lambda: _mldata.leakage_safe_split_sql()),
    Query("pack_stats", q_pack_stats, lambda: _mldata.pack_stats_sql()),
    Query("url_canonical_groups", q_url_canonical_groups,
          lambda: _oracles.url_canonical_groups_sql()),
    Query("contamination_report", q_contamination_report,
          lambda: _mldata.contamination_report_sql()),
    Query("dsir_scores", q_dsir_scores, lambda: _mldata.dsir_scores_sql()),
    Query("semdedup_against_base", q_semdedup_against_base,
          lambda: _sim.semdedup_against_base_sql(n_iter=2, threshold_e6=400000)),
    Query("winnow_stats", q_winnow_stats, lambda: _dedup.winnow_stats_sql()),
    Query("cluster_balanced_sample", q_cluster_balanced_sample,
          lambda: _sim.cluster_balanced_sample_sql(cap_per_cluster=32, n_iter=2)),
    Query("rrf_search_topk", q_rrf_search_topk,
          lambda: _sim.rrf_search_topk_sql(_SEED_TERMS, query_id=0, k=10)),
    Query("simhash", q_simhash, lambda: _dedup.SIMHASH_SQL),
    Query("cosine_topk", q_cosine_topk, lambda: _sim.cosine_topk_sql(k=10)),
    Query("validate_data", q_validate_data, lambda: _evalops.VALIDATE_DATA_SQL),
    Query("pack_sequences", q_pack_sequences, lambda: _mldata.PACK_SEQUENCES_SQL),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.build for q in REGISTRY[:EXPORT_CAP]}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.build for q in REGISTRY[EXPORT_CAP:]}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle() for q in REGISTRY}
