"""Physical-plan regression guards for the scale properties we claim.

These lock in: filter pushdown to the scan, column pruning, the
single-Python-crossing extraction stage, zero shuffles in extraction, and
the md5-once minhash plan (the Generate-boundary fix). If a refactor
reintroduces a shuffle or duplicates the hash pass, these fail."""

import re

import pytest
from pyspark.sql import functions as F

from posextract_spark.operators.dedup import minhash_signatures
from posextract_spark.operators.triples import extract_triples


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_pushdown_pruning_no_shuffle(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = extract_triples(
        docs.filter(F.col("lang") == "en"), text_col="text", id_cols=["doc_id"], provider="svo"
    ).select("doc_id", "subject", "verb", "object")
    plan = _plan(q)
    # ADVICE r5: don't pin the exact bracketed rendering (it changes across
    # Spark/datasource versions) — assert the pushdown happened at all
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan
    assert plan.count("MapInPandas") == 1  # one Python crossing
    assert "Exchange" not in plan  # extraction is shuffle-free
    # column pruning: the scan must not read source/n_chars
    assert "n_chars" not in plan and "source" not in plan


def test_minhash_hashes_once(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    assert plan.count("md5") == 1  # the Generate-boundary guarantee
    # split exactly once: the slice inside the shingle transform's lambda
    # re-evaluates non-attribute subtrees PER SHINGLE, so shingling over
    # the raw split expression was O(words^2) per doc (r4 fix)
    assert plan.count("split(") == 1
    assert "Exchange" not in plan  # still shuffle-free


def test_broadcast_linking_no_shuffle_join(spark):
    from posextract_spark.operators.graph import link_triples
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = extract_triples(docs, text_col="text", id_cols=["doc_id"], provider="svo")
    linked = link_triples(t, alias_table(spark))
    plan = _plan(linked)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the canonical path links its edges through the same broadcast joins,
    # over the canonicalizer's map in place of the dictionary; the map's
    # own rep/component joins are broadcast too (vocabulary-sized)
    pages = generate_pages(spark, 10, seed=1, n_partitions=1)
    _, edges = kg_from_pages(pages, alias_table(spark), canonicalize=True, persist=False)
    plan = _plan(edges)
    link_joins = re.findall(r"(\w+Join) \[(\w+_)surface_norm#", plan)
    assert sorted(link_joins) == [
        ("BroadcastHashJoin", "object_"),
        ("BroadcastHashJoin", "subject_"),
    ]
    assert "SortMergeJoin" not in plan


def test_ivf_assign_no_shuffle(spark):
    """ivf_assign must be a pure scan-side projection: the r01 explode +
    window-argmax formulation shuffled N*k rows (VERDICT r01 item 3)."""
    from posextract_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivf_assign(emb))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode either
    assert "Window" not in plan


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must merge-join with ZERO
    Exchange — the write-time shuffle pays for every later join. (Sort
    nodes may remain: sortBy order is only usable when each bucket is a
    single file, which parallel writers don't guarantee.)"""
    from posextract_spark.sources.bucketed import read_bucketed, write_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = docs.select("doc_id", "text")
    right = docs.select("doc_id", "lang")
    write_bucketed(left, "bkt_left", "doc_id", 8, sort_col="doc_id",
                   path=str(tmp_path / "l"))
    write_bucketed(right, "bkt_right", "doc_id", 8, sort_col="doc_id",
                   path=str(tmp_path / "r"))
    try:
        a = read_bucketed(spark, "bkt_left").hint("merge")
        b = read_bucketed(spark, "bkt_right")
        joined = a.join(b, "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "SelectedBucketsCount" in plan  # bucketed scan, not plain files
        assert joined.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_ivf_inverted_lists_partition_pruned(spark, tmp_path):
    """The IVF probe's storage form: inverted lists written as
    centroid_id-partitioned parquet, probe = partition filter at the scan
    (touching ~1/k of the files), not a post-scan filter."""
    from pyspark.sql import functions as F

    from posextract_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lists = ivf_assign(emb).join(emb, "vec_id")
    path = str(tmp_path / "ivf_lists")
    lists.write.partitionBy("centroid_id").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("centroid_id") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # pruned scan reads only that list's rows
    assert probe.count() == lists.filter(F.col("centroid_id") == 3).count()


def test_corpus_quality_filter_single_scan_no_shuffle(spark):
    from posextract_spark.operators.textops import corpus_quality_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(corpus_quality_filter(docs))
    # the composite keep/drop decision is ONE scan-side projection:
    # no join, no Exchange, no Python crossing
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "InPandas" not in plan and "EvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_textops_split_once(spark):
    """Expression-count guards (VERDICT r3 items 1/3): the existing
    no-Exchange/no-join guards passed while corpus_quality_filter shipped
    with split(text) pasted 32x into one interpreted Project (28.6s vs
    2.8s forced at 200k docs). Each word-array consumer must materialize
    the split ONCE behind a Generate boundary (functions/boundary.py);
    r3 counts were 32/21/24/6."""
    from posextract_spark.operators.textops import (
        corpus_quality_filter,
        language_id,
        quality_score,
        repetition_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for op in (corpus_quality_filter, repetition_stats, language_id, quality_score):
        plan = _plan(op(docs))
        assert plan.count("split(") <= 2, f"{op.__name__}: split duplicated\n{plan}"
        assert "Generate" in plan, f"{op.__name__}: materialization boundary missing"


def test_simhash_hashes_once(spark):
    """simhash's r3 plan evaluated split+md5-per-word 32x (once per bit
    term plus the length guard); the Generate boundary pins it to once."""
    from posextract_spark.operators.dedup import simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash(docs))
    assert plan.count("md5") == 1
    assert plan.count("split(") == 1
    assert "Exchange" not in plan


def test_salted_counts_two_phase(spark):
    """The skew primitive must actually be two-phase: first shuffle on
    (key, salt) — bounding per-partition width on a hot key — then on key
    alone to merge partials. One Exchange would mean the salt collapsed
    and the hot key lands on one partition again."""
    from posextract_spark.operators.canonicalize import salted_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "source", "doc_id"
    )
    plan = _plan(salted_counts(docs, "source", id_col="doc_id"))
    assert plan.count("Exchange") == 2
    assert "_salt" in plan
    # deterministic salt (r5, ADVICE r4): derived from the data via
    # xxhash64(doc_id), never from monotonically_increasing_id, so a
    # stage retry re-derives identical (key, salt) partials
    assert "xxhash64(doc_id" in plan
    assert "monotonically_increasing_id" not in plan


def test_tag_sentence_and_urls_compute_once(spark):
    """Same expression-paste family in the non-textops operators (r4 plan
    audit): tag_sentence's _svo_pos CASEs pasted 11 split(text) copies;
    url_normalize pasted 27 regexp_extract + 10 regexp_replace chains
    (every scheme/hostport/port/path reference re-ran its chain) — on the
    crawl-side dedup-key operator that multiplies by 10^12 at scale."""
    from posextract_spark.operators.evalops import tag_sentence
    from posextract_spark.operators.urls import url_normalize

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tag_sentence(docs))
    assert plan.count("split(") == 1

    u = docs.select(
        "doc_id",
        F.concat(F.lit("https://www.Ex.com:443/a//b/?b=2&a=1#f"), F.col("source")).alias("url"),
    )
    plan = _plan(url_normalize(u))
    assert plan.count("regexp_extract") <= 5
    assert plan.count("regexp_replace") <= 7


def test_bench_aggregates_not_pruned(spark):
    """The bench's forced-evaluation aggregates must RETAIN the operator
    expressions. r1-r3 benched simhash/text_quality_scan/minhash_signatures
    via .count() over pure projections — Catalyst pruned the unreferenced
    columns and the executed plans contained no split/md5 at all, so the
    recorded timings measured a bare scan (VERDICT r3 item 2). This pins
    the bench.py aggregate shapes as non-prunable (and documents that
    .count() over these operators IS prunable, which is why bench.py must
    never regress to it)."""
    from posextract_spark.operators.dedup import minhash_signatures, simhash
    from posextract_spark.operators.textops import fingerprint, language_id, quality_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    pruned = _plan(fingerprint(docs).select("doc_id"))
    assert "md5" not in pruned  # the trap is real: projections prune the work

    assert "md5" in _plan(simhash(docs).agg(F.sum("simhash")))
    assert "md5" in _plan(minhash_signatures(docs).agg(F.sum("minhash")))
    scan = fingerprint(language_id(quality_score(docs))).agg(
        F.sum("n_words"),
        F.count(F.when(F.col("pred_lang") == "en", 1)),
        F.avg("text_hash"),
        F.avg("min_word_hash"),
    )
    plan = _plan(scan)
    assert "split(" in plan and "md5" in plan


def test_linking_scorer_computes_once(spark):
    """r5 paste audit (VERDICT r4 item 5) on the fuzzy linking scorer:
    the r4 formulation pasted the O(|a|*|b|) bigram-intersection scan
    THREE times (inter, union, union>0 guard — interpreted projection on
    the joined surface x candidate traffic) and re-ran lower(trim()) PER
    BIGRAM ELEMENT inside the transform lambdas (4 copies in the plan).
    Now: intersection materialized once behind a Generate, normalization
    exactly twice (mention select + alias materialize), attribute-only
    lambdas. Fails on the r4 code."""
    from posextract_spark.operators.linking import resolve_surfaces_scored

    surf = spark.createDataFrame([("Acme Corp",), ("zorin",)], "surface_norm string")
    alias = spark.createDataFrame(
        [("acme corp", "ACME"), ("zorin", "ZORIN")], "surface_norm string, canonical string"
    )
    plan = _plan(resolve_surfaces_scored(surf, alias))
    assert plan.count("array_contains") == 1  # intersection scan materialized once
    # mention side only: alias_df.surface_norm is pre-normalized BY
    # CONTRACT (blocking/exact-hit always compared it raw, so r4's
    # bigram-only re-normalize was dead work that could rescue nothing)
    assert plan.count("lower(trim") == 1
    assert "Window" not in plan  # best-candidate is a map-side-combinable max


def test_sentence_split_computes_once(spark):
    """split_sentences chains filter/transform over ONE segment split —
    the whole chain must appear as a single nested expression (one
    split on the sentence delimiter per row), not a pasted copy per
    stage. The per-segment word split inside the filter lambda is
    intentional (it counts words of the LAMBDA VAR, not an outer
    subtree)."""
    from posextract_spark.operators.sentences import split_sentences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(split_sentences(docs))
    # exactly one split on the \.|\n sentence delimiter
    assert plan.count(r"\.|\n") == 1
    assert "Exchange" not in plan  # embarrassingly parallel


def test_pages_pipeline_python_crossings(spark, tmp_path):
    """The end-to-end pages->triples composite must cross into Python
    exactly once: one MapInPandas for the fused html->text + sentence
    split + segment+parse+extract stage, no separate pandas UDF — and
    never shuffle before extraction. Pages are materialized to parquet
    first so the guard sees the PIPELINE's plan, not the synthetic
    generator's own MapInPandas/repartition."""
    from posextract_spark.pipeline import pages_to_triples
    from posextract_spark.sources.pages import generate_pages

    path = str(tmp_path / "pages")
    generate_pages(spark, 20, seed=42, n_partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = _plan(pages_to_triples(pages, provider="template"))
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0
    assert "Exchange" not in plan
    # the lang filter must reach the parquet scan. Matched loosely (ADVICE
    # r5): the exact bracketed rendering of PushedFilters varies across
    # Spark/datasource versions; what we pin is that pushdown HAPPENED.
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan


@pytest.mark.parametrize("op", ["extract_adj_noun_pairs", "extract_subj_verb_pairs"])
@pytest.mark.parametrize("keep", [True, False])
def test_pair_operators_one_map_in_pandas(spark, op, keep):
    """Each pair operator crosses into Python once, through the batch
    runner's MapInPandas, emitting flat rows: no scalar pandas UDF
    (ArrowEvalPython) and no JVM explode (Generate)."""
    from posextract_spark.operators import pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = getattr(pairs, op)(
        docs, text_col="text", id_cols=["doc_id"], provider="svo", keep=keep
    )
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan
    assert "Exchange" not in plan


def test_kg_from_pages_plans_no_python_scans(spark, tmp_path):
    """The alias dictionary is a literal frame of Python rows: it must plan
    as a LocalTableScan, never as ``Scan ExistingRDD`` (a Python job per
    broadcast of it). Neither output of kg_from_pages scans an RDD."""
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    alias = alias_table(spark)
    assert "LocalTableScan" in _plan(alias)
    path = str(tmp_path / "pages")
    generate_pages(spark, 20, seed=42, n_partitions=2).write.parquet(path)
    nodes, edges = kg_from_pages(spark.read.parquet(path), alias, persist=False)
    for df in (nodes, edges):
        plan = _plan(df)
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan


def test_fusion_plans_window_free_and_broadcast_gate(spark):
    """The fusion family's scale claims: no Window node anywhere (winner
    selection is struct-min aggregation), and fuse's functional-predicate
    semi-filter joins back as a broadcast, never a shuffle of the
    candidate traffic."""
    from posextract_spark.operators.fusion import (
        contested_facts,
        fuse_functional_relations,
        predicate_similarity,
        relation_stats,
    )

    t = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "q", "a")],
        ["src", "predicate", "dst"],
    )
    for q in (
        relation_stats(t),
        fuse_functional_relations(t, min_functionality_e6=500_000),
        contested_facts(t),
        predicate_similarity(t, max_pair_fanout=3),
    ):
        assert "Window" not in _plan(q)
    fuse_plan = _plan(fuse_functional_relations(t, min_functionality_e6=500_000))
    assert "BroadcastHashJoin" in fuse_plan
    ps_plan = _plan(predicate_similarity(t))
    assert "BroadcastHashJoin" in ps_plan  # size dims broadcast


def test_truth_discovery_plan_window_free_and_constant_lineage(spark):
    """Per-round localCheckpoint keeps the final plan O(1) deep: the
    returned facts frame must reference checkpointed RDD scans, not the
    unrolled 3-round join lineage, and contain no Window node."""
    from posextract_spark.operators.fusion import truth_discovery

    quads = [("w1", "a", "p", "b"), ("w2", "a", "p", "c"), ("w1", "b", "p", "a")]
    df = spark.createDataFrame(quads, ["source", "src", "predicate", "dst"])
    facts = truth_discovery(df, rounds=3)
    plan = _plan(facts)
    assert "Window" not in plan
    # lineage truncated: the winners frame is a checkpoint scan and the
    # plan does NOT contain the claims-join/aggregate cascade of 3 rounds
    assert "Scan ExistingRDD" in plan
    assert plan.count("HashAggregate") == 0  # winners already materialized


def test_negative_samples_plan_anti_join_no_window(spark):
    from posextract_spark.operators.mldata import kg_negative_samples

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], ["src", "predicate", "dst"]
    )
    plan = _plan(kg_negative_samples(t, n_negatives=2, n_buckets=2))
    assert "Window" not in plan
    # filtered setting is an anti join, and the argmin is a partial-agg
    # struct-min (SortAggregate — struct with a string field isn't
    # hash-aggregable — but still map-side combined: partial_min present)
    assert "LeftAnti" in plan
    assert "SortAggregate" in plan or "HashAggregate" in plan
    assert "partial_min" in plan


def test_ngram_counts_splits_once_single_shuffle(spark):
    from posextract_spark.operators.textops import ngram_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ngram_counts(docs, n=3))
    # the word array is materialized behind the Generate boundary: the
    # gram transform references the attribute, never re-splitting
    assert plan.count("split(") == 1
    # one ngram-keyed aggregation = exactly one Exchange
    assert plan.count("Exchange") == 1
