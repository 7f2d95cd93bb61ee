"""End-to-end KG pipeline tests over the synthetic pages corpus."""

import pytest
from pyspark.sql import functions as F

from posextract_spark.operators.html_text import extract_text, extract_text_pure
from posextract_spark.operators.sentences import split_sentences
from posextract_spark.operators.canonicalize import connected_components_star, salted_counts
from posextract_spark.pipeline import kg_from_pages, pages_to_triples
from posextract_spark.sources.pages import alias_table, gen_page, generate_pages


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, 120, seed=7, n_partitions=4).persist()
    df.count()
    return df


def test_generator_deterministic():
    a = gen_page(5, seed=7)
    b = gen_page(5, seed=7)
    assert a == b
    assert a["url"] == "https://synth.test/7/5"


def test_extract_text_byte_identical(pages, spark):
    """The north_rule per-row invariant: UDF text == stored golden text."""
    redone = extract_text(pages.drop("text"), html_col="html", out_col="text2")
    mism = (
        redone.join(pages.select("url", "text"), "url")
        .filter(F.col("text") != F.col("text2"))
        .count()
    )
    assert mism == 0


def test_extractor_branches():
    page = gen_page(3, seed=7)
    html = page["html"].decode()
    title, text = extract_text_pure(html)
    assert title.startswith("Synthetic page")
    assert "Reference one" not in text  # References section dropped
    assert "external link text" not in text  # External_links dropped
    assert "Another linked" not in text  # 'link' in header id
    assert "Too short" not in text  # <5-word paragraph
    assert "Short stub" not in text  # asbox para is <5 words
    assert "[12]" not in text and "(draft notes)" not in text and "|" not in text
    assert "  " not in text
    assert "Quarterly report shows steady growth overall today." in text


def test_sentence_split(spark):
    df = spark.createDataFrame(
        [("u", "Acme formally acquired Zorin today. Too short. Bolt bought mines and sold bonds.")],
        "url string, text string",
    )
    out = split_sentences(df, remove_quotes=False).collect()
    assert [r.sentence for r in out] == [
        "Acme formally acquired Zorin today.",
        "Bolt bought mines and sold bonds.",
    ]
    assert [r.sent_pos for r in out] == [0, 1]


def test_pages_to_triples_known_set(spark, pages):
    triples = pages_to_triples(pages, provider="template").persist()
    svo = {(r.subject, r.verb, r.object) for r in triples.collect()}
    # every emitted verb must come from the template family
    assert {v for _, v, _ in svo} <= {
        "acquire", "acquired", "bought", "owned", "said", "gave up"
    }
    assert len(svo) > 20
    # negation rows carry neg_adverb
    negs = triples.filter(F.col("neg_adverb") == "not").count()
    assert negs > 0


def test_kg_materialize_and_linking(spark, pages, tmp_path):
    nodes, edges = kg_from_pages(
        pages, alias_table(spark), out_dir=str(tmp_path / "kg"), n_buckets=4
    )
    nodes_pd = spark.read.parquet(str(tmp_path / "kg/nodes")).toPandas()
    edges_pd = spark.read.parquet(str(tmp_path / "kg/edges")).toPandas()
    assert len(nodes_pd) > 0 and len(edges_pd) > 0
    # alias surfaces collapse onto one canonical node: AcmeCorp + Acme -> acme
    acme = nodes_pd[nodes_pd.canonical == "acme"]
    assert len(acme) == 1
    assert edges_pd.weight.sum() > 0
    assert (edges_pd.sources.map(len) <= 8).all()


def union_find_components(edges):
    """{node: min node id of its component} by union-find over the edges
    that are not self-loops: the star CC's contract (nodes with only
    self-loops have no component)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's min
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (5, 5), (3, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    comps = {r.node: r.component for r in connected_components_star(edges).collect()}
    assert comps[1] == comps[2] == comps[3] == comps[4] == 1
    assert comps[10] == comps[11] == 10
    assert 5 not in comps  # self-loop only => no edges
    assert comps == union_find_components(pairs)


def test_salted_counts_deterministic_id_salt_matches_direct(spark):
    # the retry-safe path (r5, ADVICE r4): salt = pmod(xxhash64(id), n)
    rows = [("a", i) for i in range(50)] + [("b", i) for i in range(50, 53)]
    df = spark.createDataFrame(rows, "k string, rid bigint")
    direct = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {
        r.k: r.n for r in salted_counts(df, "k", n_salts=4, id_col="rid").collect()
    }
    assert direct == salted


def test_template_triple_table_pins_kernel():
    """The closed-form template->triples table used by the kg_pages oracle
    (oracles.TEMPLATE_TRIPLE_RULES) must agree with the real kernel on every
    template shape, including entity-collision variants. If a kernel or
    template change shifts extraction, this fails before the driver gate."""
    from posextract_spark.kernel.extract import extract_triples_one
    from posextract_spark.kernel.quotes import split_quotes_list
    from posextract_spark.oracles import triples_for_sentence
    from posextract_spark.parse.provider import get_provider

    sentences = [
        "Acme did not acquire Zorin.",
        "Acme acquired factories, and mines, and railways.",
        "Acme bought factories and sold mines.",
        "The tycoon who owned Acme retired.",
        "Acme wanted to acquire Zorin.",
        "Acme said Zorin acquired Initech.",
        "Stark Group gave up the lawsuit.",
        'Acme said "Zorin acquired Initech" yesterday.',
        # collisions + compound surfaces
        "Acme said Zorin acquired Acme.",
        'Hooli said "Bolt acquired Hooli" yesterday.',
        "Zorin Holdings gave up the shares.",
        # decoy paragraph sentence: must extract nothing
        "Quarterly report shows steady growth overall today.",
    ]
    provider = get_provider("template")
    for sentence in sentences:
        kernel_triples = []
        for seg in provider.parse_lazy_batch(split_quotes_list(sentence)):
            for flat in extract_triples_one(seg):
                kernel_triples.append((flat["subject"], flat["verb"], flat["object"]))
        assert kernel_triples == triples_for_sentence(sentence), sentence


def test_star_cc_matches_union_find_on_random_graphs(spark):
    """large-star/small-star must compute union-find's node->component map
    (component = min reachable id)."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    b = {r.node: r.component for r in connected_components_star(df).collect()}
    assert b == union_find_components(edges) and len(b) > 0


def test_star_cc_logarithmic_on_deep_chain(spark):
    """A 512-node path is the adversarial case for label propagation
    (O(diameter) rounds); the star algorithm must settle in O(log n)."""
    from posextract_spark.operators.canonicalize import connected_components_star

    n = 512
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    labels, rounds = connected_components_star(df, return_rounds=True)
    comps = {r.node: r.component for r in labels.collect()}
    assert set(comps.values()) == {0} and len(comps) == n + 1
    assert rounds <= 12, f"expected O(log n) rounds, took {rounds}"


def test_scored_linking_fuzzy_and_codegen(spark):
    """Bigram-Jaccard resolution links inflected/typo'd surfaces the exact
    dictionary misses, falls back below threshold, and compiles to pure
    native Columns (no Python eval in the plan)."""
    from posextract_spark.operators.linking import resolve_surfaces_scored

    alias_df = spark.createDataFrame(
        [("customer", "client"), ("column", "field")],
        "surface_norm string, canonical string",
    )
    surfaces = spark.createDataFrame(
        [("customers",), ("Customer",), ("columns",), ("zebra",), ("cusp",)],
        "surface_norm string",
    )
    out = {r.surface_norm: r for r in resolve_surfaces_scored(surfaces, alias_df).collect()}
    assert out["customers"].canonical == "client" and out["customers"].linked == 1
    assert out["customer"].canonical == "client" and out["customer"].score_e6 == 1000000
    assert out["columns"].canonical == "field"
    assert out["zebra"].canonical == "zebra" and out["zebra"].linked == 0
    assert out["cusp"].canonical == "cusp" and out["cusp"].linked == 0  # shares prefix, low score

    plan = resolve_surfaces_scored(surfaces, alias_df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # scorer is JVM-side
    assert "BroadcastHashJoin" in plan


def test_char_bigrams_short_surfaces(spark):
    """len<=1 surfaces must produce ZERO bigrams: Spark's sequence(1, 0) is
    a descending [1, 0] (step defaults to -1), which would fabricate a
    spurious bigram the DuckDB mirror (generate_series -> empty) never sees."""
    from pyspark.sql import functions as F

    from posextract_spark.operators.linking import char_bigrams, resolve_surfaces_scored

    df = spark.createDataFrame([("x",), ("",), ("ab",)], "s string")
    got = {r.s: r.bg for r in df.select("s", char_bigrams(F.col("s")).alias("bg")).collect()}
    assert got["x"] == [] and got[""] == []
    assert got["ab"] == ["ab"]

    # a 1-char surface vs a 1-char alias must NOT link (Jaccard of empties = 0)
    # a 1-char EXACT dictionary hit must link (score short-circuits to 1e6;
    # bigram Jaccard alone cannot see it — both bigram sets are empty), while
    # a 1-char near-miss must not
    alias_df = spark.createDataFrame([("x", "ex")], "surface_norm string, canonical string")
    out = {r.surface_norm: r for r in resolve_surfaces_scored(
        spark.createDataFrame([("x",), ("xq",)], "surface_norm string"), alias_df
    ).collect()}
    assert out["x"].linked == 1 and out["x"].canonical == "ex" and out["x"].score_e6 == 1000000
    assert out["xq"].linked == 0 and out["xq"].canonical == "xq"


def test_html_extract_nested_sections_and_unclosed_p():
    """bs4 parity on nested markup: a nested section's paragraphs appear in
    the OUTER section too (find_all('p') matches descendants); paragraphs
    after the inner close still belong to the outer; an unclosed <p> is
    implicitly closed (r1 dropped all three outer paragraphs)."""
    from posextract_spark.operators.html_text import extract_text_pure

    html = (
        '<html><body><section><h2 id="Intro_1">I</h2>'
        "<p>outer one two three four five six.</p>"
        '<section><h2 id="Sub_1">S</h2><p>inner aa bb cc dd ee ff.</p></section>'
        "<p>tail gg hh ii jj kk ll.</p>"
        "</section></body></html>"
    )
    _, text = extract_text_pure(html)
    assert text == (
        "outer one two three four five six. inner aa bb cc dd ee ff. "
        "tail gg hh ii jj kk ll. inner aa bb cc dd ee ff."
    )

    # unclosed <p> before a following <p>: both survive
    html2 = (
        '<html><body><section><h2 id="A_1">A</h2>'
        "<p>first para has five words<p>second para has six words total"
        "</section></body></html>"
    )
    _, text2 = extract_text_pure(html2)
    assert text2 == "first para has five words second para has six words total"

    # the first h2 DESCENDANT labels every open ancestor: outer section
    # whose only h2 lives in a nested 'link' section is dropped WITH it
    html3 = (
        "<html><body><section>"
        '<section><h2 id="External_links">L</h2><p>link text here now ok.</p></section>'
        "</section></body></html>"
    )
    _, text3 = extract_text_pure(html3)
    assert text3 == ""


def test_incremental_merge_equals_from_scratch_build(spark):
    """merge_edge_deltas / merge_node_deltas (r6): building the graph per
    disjoint snapshot and merging must equal the from-scratch build — for
    edges exactly (weights are sums), and for nodes exactly while
    surface_forms stays within the MAX_SOURCES cap (template entities
    have <= 4 surfaces, so the union-of-slices == slice-of-union here)."""
    from pyspark.sql import functions as F

    from posextract_spark.operators.graph import merge_edge_deltas, merge_node_deltas
    from posextract_spark.pipeline import kg_from_pages
    from posextract_spark.sources.pages import alias_table, generate_pages

    pages = generate_pages(spark, 60, seed=9, n_partitions=4)
    alias_df = alias_table(spark)
    half_a = pages.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(2)) == 0)
    half_b = pages.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(2)) == 1)

    nodes_a, edges_a = kg_from_pages(half_a, alias_df, persist=False)
    nodes_b, edges_b = kg_from_pages(half_b, alias_df, persist=False)
    nodes_full, edges_full = kg_from_pages(pages, alias_df, persist=False)

    def edge_rows(df):
        return {
            (r.src, r.predicate, r.dst, r.weight, tuple(r.sources))
            for r in df.select("src", "predicate", "dst", "weight", "sources").collect()
        }

    def node_rows(df):
        return {
            (r.entity_id, r.canonical, tuple(r.surface_forms), r.n_mentions)
            for r in df.select("entity_id", "canonical", "surface_forms", "n_mentions").collect()
        }

    assert edge_rows(merge_edge_deltas(edges_a, edges_b)) == edge_rows(edges_full)
    assert node_rows(merge_node_deltas(nodes_a, nodes_b)) == node_rows(nodes_full)


def test_to_ntriples_encoding_and_parity(spark):
    import duckdb
    import pandas as pd
    import urllib.parse

    from posextract_spark.operators.graph import to_ntriples, to_ntriples_sql

    rows = [("acme corp", "owns 50%", "zorin<x>"), ("a|b", 'q"t', "tab\there"),
            ("nl\nline", "p", "back\\slash"),
            ("acme corp", "owns 50%", "zorin<x>")]  # duplicate -> one line
    pdf = pd.DataFrame(rows, columns=["src", "predicate", "dst"])
    got = sorted(r["ntriple"] for r in to_ntriples(spark.createDataFrame(pdf)).collect())
    con = duckdb.connect()
    con.register("e", pdf)
    want = sorted(r[0] for r in con.execute(to_ntriples_sql("e")).fetchall())
    con.close()
    assert got == want and len(got) == 3
    # every line is well-formed and percent-decodes back to a real surface
    surfaces = {s for r in rows for s in r}
    for line in got:
        assert line.endswith("> .") and line.count("<") == 3
        subj = line.split("> <")[0].removeprefix("<http://kg.example/entity/")
        assert urllib.parse.unquote(subj) in surfaces
