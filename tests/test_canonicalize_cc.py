"""Scored-linking + co-reference CC canonicalization (SURVEY §7.6 full
chain, r6): coref_edges, resolve_canonical_cc, and the kg_from_pages
``canonicalize=True`` composition.

The hard end-to-end signal is the oracle-checked contract query
(kg_nodes_canonical — full generator replay + Python union-find mirror);
these tests pin the operator-level semantics the mirror assumes.
"""

import pytest
from pyspark.sql import functions as F

from posextract_spark.operators.canonicalize import coref_edges, resolve_canonical_cc


def _hash64_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _surfaces(spark, names):
    return spark.createDataFrame([(n,) for n in names], "surface_norm string")


def test_coref_edges_prefix_blocked_jaccard(spark):
    """quixote~quixotec share prefix 'qu' with bigram Jaccard 6/7 >= 0.5;
    quixote~zorin share no prefix; acme~acmecorp share 'ac' but Jaccard
    3/7 < 0.5 — exactly one edge, (min, max) by string order."""
    surfaces = _surfaces(spark, ["quixote", "quixotec", "zorin", "acme", "acmecorp"])
    edges = coref_edges(surfaces).collect()
    assert {(r.src, r.dst) for r in edges} == {
        (_hash64_py("quixote"), _hash64_py("quixotec"))
    }


def test_coref_edges_block_cap_is_deterministic(spark):
    """max_block_width reuses the shared hash-threshold cap: a 100-surface
    'xx...' block capped to 5 keeps the same subset on every run."""
    names = [f"xx{i:03d}" for i in range(100)]
    surfaces = _surfaces(spark, names)
    a = {(r.src, r.dst) for r in coref_edges(surfaces, min_sim_e6=0, max_block_width=5).collect()}
    b = {(r.src, r.dst) for r in coref_edges(surfaces, min_sim_e6=0, max_block_width=5).collect()}
    assert a == b
    full = {(r.src, r.dst) for r in coref_edges(surfaces, min_sim_e6=0).collect()}
    assert len(full) == 100 * 99 // 2
    assert len(a) < len(full)


def test_resolve_canonical_cc_three_behaviors(spark):
    """One call covers: exact dictionary hit, fuzzy link, anchor-less
    co-reference cluster (rep = min surface), untouched singleton."""
    alias_df = spark.createDataFrame(
        [("acme", "acme"), ("acmecorp", "acme"), ("zorin", "zorin")],
        "surface_norm string, canonical string",
    )
    surfaces = spark.createDataFrame(
        [("Acme",), ("AcmeCorpX",), ("Quixote",), ("Quixotec",), ("factories",)],
        "surface string",
    )
    out = {r.surface_norm: r for r in resolve_canonical_cc(surfaces, alias_df).collect()}
    assert out["acme"].canonical == "acme" and out["acme"].linked == 1
    # acmecorpx: bigram Jaccard 7/8 vs acmecorp -> fuzzy link into acme
    assert out["acmecorpx"].canonical == "acme" and out["acmecorpx"].linked == 1
    # quixote/quixotec: no dictionary candidate (linked=0) but one CC
    # cluster via the coref edge; rep = min member surface
    assert out["quixote"].canonical == "quixote" and out["quixote"].linked == 0
    assert out["quixotec"].canonical == "quixote" and out["quixotec"].linked == 0
    assert out["quixote"].entity_id == out["quixotec"].entity_id == _hash64_py("quixote")
    # factories: no edges at all -> own singleton canonical
    assert out["factories"].canonical == "factories" and out["factories"].linked == 0


def test_resolve_canonical_cc_merges_bridged_anchors(spark):
    """A coref edge between two dictionary-linked surfaces merges their
    ANCHORS into one cluster; the representative is the smallest anchor
    canonical (deterministic min over the component)."""
    alias_df = spark.createDataFrame(
        [("alpha", "a2"), ("alphb", "a1")], "surface_norm string, canonical string"
    )
    surfaces = spark.createDataFrame([("alpha",), ("alphb",)], "surface string")
    out = {r.surface_norm: r for r in resolve_canonical_cc(surfaces, alias_df).collect()}
    # alpha~alphb bigram Jaccard 3/5 >= 0.5 bridges anchors a2 and a1
    assert out["alpha"].canonical == "a1"
    assert out["alphb"].canonical == "a1"


def test_kg_canonicalize_equals_exact_link_on_alias_only_corpus(spark):
    """On the pure generated corpus every mention surface is either a
    dictionary alias or dissimilar to everything (oracle replay confirms
    no fuzzy/coref candidates), so the CC path must reproduce the exact
    broadcast-link nodes bit for bit — the composition adds recall on typo
    corpora without disturbing the exact-link baseline."""
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    pages = generate_pages(spark, 40, seed=7, n_partitions=2)
    alias_df = alias_table(spark)

    def rows(nodes):
        return {
            (r.canonical, r.entity_id, tuple(r.surface_forms), r.n_mentions)
            for r in nodes.collect()
        }

    exact_nodes, _ = kg_from_pages(pages, alias_df)
    cc_nodes, _ = kg_from_pages(pages, alias_df, canonicalize=True)
    assert rows(exact_nodes) == rows(cc_nodes)


@pytest.mark.parametrize("canonicalize", [False, True])
def test_kg_canonicalize_edges_join_canonical_nodes(spark, canonicalize):
    """Graph consistency on both link tables: every edge endpoint id is an
    entity_id present in the nodes table — under canonicalize=True
    including endpoints whose canonical came from a fuzzy link or a coref
    cluster (the typo pages force both)."""
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages, typo_pages

    pages = generate_pages(spark, 30, seed=42, n_partitions=2).unionAll(
        typo_pages(spark)
    )
    nodes, edges = kg_from_pages(pages, alias_table(spark), canonicalize=canonicalize)
    node_ids = {r.entity_id for r in nodes.select("entity_id").collect()}
    endpoints = {r.src for r in edges.select("src").collect()} | {
        r.dst for r in edges.select("dst").collect()
    }
    assert endpoints and endpoints <= node_ids
    if not canonicalize:
        return
    # and the typo surfaces really did merge: AcmeCorpX's mentions flow
    # into the acme node (no separate acmecorpx node exists)
    canons = {r.canonical for r in nodes.select("canonical").collect()}
    assert "acmecorpx" not in canons and "quixotec" not in canons
    assert "quixote" in canons


def test_resolve_canonical_cc_no_edges_at_all(spark):
    """All surfaces unlinked and mutually dissimilar -> the CC runs on an
    EMPTY edge frame; every surface must come back as its own singleton
    canonical (left-join + coalesce path, no crash)."""
    alias_df = spark.createDataFrame([("zz", "zz")], "surface_norm string, canonical string")
    surfaces = spark.createDataFrame([("factories",), ("mines",)], "surface string")
    out = {r.surface_norm: r for r in resolve_canonical_cc(surfaces, alias_df).collect()}
    assert out["factories"].canonical == "factories" and out["factories"].linked == 0
    assert out["mines"].canonical == "mines" and out["mines"].linked == 0


def test_resolve_canonical_cc_structural_edges_merge_disjoint_strings(spark):
    """structural_edges (graph-context co-reference, e.g. from
    neighbor_jaccard over the mention graph) merge surfaces that share NO
    characters: 'big blue' joins the 'ibm' anchor cluster, so the cluster
    canonical comes from the dictionary anchor; without the edge it stays
    an unlinked singleton."""
    alias_df = spark.createDataFrame(
        [("ibm", "ibm")], "surface_norm string, canonical string"
    )
    surfaces = spark.createDataFrame([("IBM",), ("Big Blue",)], "surface string")
    base = {r.surface_norm: r for r in resolve_canonical_cc(surfaces, alias_df).collect()}
    assert base["big blue"].canonical == "big blue" and base["big blue"].linked == 0

    struct = spark.createDataFrame(
        [("big blue", "ibm")], "a string, b string"
    )
    out = {
        r.surface_norm: r
        for r in resolve_canonical_cc(
            surfaces, alias_df, structural_edges=struct
        ).collect()
    }
    assert out["big blue"].canonical == "ibm"
    assert out["big blue"].linked == 0  # the scorer's verdict is preserved
    assert out["ibm"].canonical == "ibm" and out["ibm"].linked == 1
    assert out["big blue"].entity_id == out["ibm"].entity_id == _hash64_py("ibm")


def test_structural_edges_from_neighbor_jaccard_composition(spark):
    """End-to-end structural coref: two alias-free surfaces with identical
    relational neighborhoods in a tiny mention graph are proposed by
    neighbor_jaccard and merged by resolve_canonical_cc; a third surface
    with disjoint context stays separate."""
    from posextract_spark.operators.graph_analytics import neighbor_jaccard

    # 'widgetco' and 'the widget company' co-occur with the same partners
    mention_edges = spark.createDataFrame(
        [
            ("widgetco", "acme"), ("widgetco", "zorin"), ("widgetco", "hooli"),
            ("the widget company", "acme"), ("the widget company", "zorin"),
            ("the widget company", "hooli"),
            ("quixote", "windmill"),
        ],
        "src string, dst string",
    )
    # min_common=3: the widget pair shares all three partners; the
    # partners themselves share only the two widget surfaces (a correct
    # structural-twin signal, but not the one this test is about)
    nj = neighbor_jaccard(mention_edges, min_common=3, min_jaccard_e6=900_000)
    struct = nj.select("a", "b")
    assert {(r.a, r.b) for r in struct.collect()} == {("the widget company", "widgetco")}

    alias_df = spark.createDataFrame(
        [("widgetco", "widgetco")], "surface_norm string, canonical string"
    )
    surfaces = spark.createDataFrame(
        [("WidgetCo",), ("The Widget Company",), ("Quixote",)], "surface string"
    )
    out = {
        r.surface_norm: r
        for r in resolve_canonical_cc(surfaces, alias_df, structural_edges=struct).collect()
    }
    assert out["the widget company"].canonical == "widgetco"
    assert out["widgetco"].canonical == "widgetco"
    assert out["quixote"].canonical == "quixote"
