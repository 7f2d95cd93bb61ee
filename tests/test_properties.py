"""Property-based tests (hypothesis) for the pure kernel pieces."""

import os
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from posextract_spark.kernel.quotes import split_quotes_list
from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.parse.svo import SVOChunkParser, classify

_TEXT = st.text(
    alphabet=st.sampled_from('abc dz"XY '), min_size=0, max_size=80
)

_WORDS = st.lists(
    st.sampled_from(
        ["data", "table", "scan", "merge", "the", "a", "fast", "small", "row", "line", "join"]
    ),
    min_size=0,
    max_size=30,
)


@given(_TEXT)
@settings(max_examples=300, deadline=None)
def test_split_quotes_total_and_deterministic(doc):
    a = split_quotes_list(doc)
    b = split_quotes_list(doc)
    assert a == b
    # every yielded segment is a substring of the original (no invention)
    for seg in a:
        assert seg in doc
    # empty input yields nothing; non-empty yields at most len(doc) segments
    if not doc:
        assert a == []


@given(_WORDS)
@settings(max_examples=300, deadline=None)
def test_svo_parser_invariants(words):
    sent = SVOChunkParser().parse_lazy_batch([" ".join(words)])[0]
    n = len(sent)
    roots = [t for t in sent if t.dep == "ROOT"]
    assert len(roots) == (1 if n else 0)
    for t in sent:
        assert 0 <= t.head_i < n
        # acyclic up-walk terminates
        seen = set()
        cur = t
        while cur.head_i != cur.i:
            assert cur.i not in seen
            seen.add(cur.i)
            cur = cur.head
    # kernel never raises and is deterministic on any parse
    a = extract_triples_one(sent)
    b = extract_triples_one(SVOChunkParser().parse_lazy_batch([" ".join(words)])[0])
    assert a == b
    # every triple's S/V/O are words of the document
    for f in a:
        assert f["verb"] in words and classify(f["verb"]) == "VERB"
        assert f["subject"] in words and f["object"] in words


def test_oversized_sentence_dropped(spark):
    from posextract_spark.operators.sentences import split_sentences

    blob = "x" * 20000  # period-free giant 'sentence'
    text = f"Acme formally acquired Zorin today. {blob} {blob} more words here. Bolt bought mines and sold bonds."
    df = spark.createDataFrame([("u", text)], "url string, text string")
    out = [r.sentence for r in split_sentences(df, remove_quotes=False).collect()]
    assert "Acme formally acquired Zorin today." in out
    assert "Bolt bought mines and sold bonds." in out
    assert all(len(s) <= 8192 + 1 for s in out)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_cc_star_equals_union_find(spark, edge_list):
    """Property: on ANY graph shape hypothesis produces (self-loops, multi
    components, cycles, stars, chains), large-star/small-star computes
    union-find's component map."""
    from posextract_spark.operators.canonicalize import connected_components_star
    from tests.test_kg_pipeline import union_find_components

    df = spark.createDataFrame(edge_list, "src long, dst long")
    b = {r.node: r.component for r in connected_components_star(df).collect()}
    assert b == union_find_components(edge_list)


@pytest.fixture(scope="module")
def reference_split_quotes():
    """The reference's pure-python split_quotes, loaded through the shim
    loader. Only safe when no real spaCy is installed (the shim occupies
    sys.modules['spacy']); with real spaCy present the subprocess-isolated
    tools/differential.py covers this instead."""
    from tools import differential

    ref_src = os.path.dirname(differential.REF_SRC)
    if not os.path.isdir(ref_src):
        pytest.skip(f"reference checkout absent: no {ref_src}")
    try:
        import spacy as _sp

        if not getattr(_sp, "__shim__", False):
            pytest.skip("real spaCy installed; covered by tools/differential.py")
    except ImportError:
        pass
    differential._load_patched_reference()
    return sys.modules["posextract.util"].split_quotes


@given(doc=_TEXT)
@settings(max_examples=500, deadline=None)
def test_split_quotes_matches_reference(reference_split_quotes, doc):
    assert split_quotes_list(doc) == list(reference_split_quotes(doc))
