"""The one Sentence: lazy Token materialization is observably invisible.

A Sentence wraps the parse arrays and builds a Token only when one is
touched. Pinned four ways:

1. full-kernel parity: extract_triples_one on an untouched Sentence equals
   extract_triples_one on the same tree after every token and child list
   was materialized first, on thousands of fuzz trees, across every option
   set — flattened dicts compared exactly;
2. the same on the SVO provider's parses of corpus-like text (including
   empty/whitespace/multi-space edge docs);
3. the Token surface (i, text, lemma_, pos, dep, head, children,
   conjuncts) against the rows the tree was built from;
4. index-based negation helpers vs the object transcriptions from
   negation.py on the same fuzz trees.
"""

import random

import pytest

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.negation import (
    get_object_neg,
    get_poa_neg,
    get_subject_neg,
)
from posextract_spark.kernel.traversal import (
    _object_neg_i,
    _poa_neg_i,
    _subject_neg_i,
)
from posextract_spark.options import TripleExtractorOptions
from tools.fuzz_differential import OPTION_SETS, random_tree

N_TREES = 1200


def _tree_rows(seed, n=N_TREES):
    rng = random.Random(seed)
    for _ in range(n):
        yield [tuple(r.values()) for r in random_tree(rng)]


def _materialized(sent):
    """``sent`` with every token, head and child list built."""
    for t in sent:
        t.head
        t.children
    assert None not in sent.tokens
    return sent


@pytest.mark.parametrize("opts", OPTION_SETS, ids=[repr(o) for o in OPTION_SETS])
def test_extraction_identical_eager_vs_lazy(opts):
    options = TripleExtractorOptions(**opts)
    for rows in _tree_rows(seed=1234):
        eager = _materialized(Sentence.from_rows(rows))
        lazy = Sentence.from_rows(rows)
        a = extract_triples_one(eager, options=options)
        b = extract_triples_one(lazy, options=options)
        assert a == b, f"divergence on tree {rows}"


def test_negation_index_helpers_match_object_forms():
    for rows in _tree_rows(seed=777, n=2000):
        sent = Sentence.from_rows(rows)
        words, pos, dep, head_idx, kid_idx = sent.parse_view()
        for t in sent:
            sn = get_subject_neg(t)
            sni = _subject_neg_i(t.i, kid_idx, dep, words)
            assert (sn.i if sn is not None else None) == sni
            on = get_object_neg(t)
            oni = _object_neg_i(t.i, kid_idx, dep, words, pos, head_idx)
            assert (on.i if on is not None else None) == oni
            pn = get_poa_neg(t)
            pni = _poa_neg_i(t.i, kid_idx, dep)
            assert (pn.i if pn is not None else None) == pni


def test_svo_provider_lazy_batch_matches_eager():
    from posextract_spark.parse.svo import SVOChunkParser

    texts = [
        "",
        "   ",
        "the fast scan merge a small join",
        "alpha beta scan gamma the delta merge epsilon",
        "no verbs here at  all",
        "scan",
        "a",
        "word scan word merge word join word sort word",
        "the   big   gap scan   target",
    ]
    # add deterministic pseudo-corpus lines
    rng = random.Random(42)
    vocab = ["the", "a", "fast", "big", "scan", "merge", "join", "alpha",
             "beta", "gamma", "delta", "node", "edge", "table", "row"]
    for _ in range(500):
        texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))

    p = SVOChunkParser()
    options = TripleExtractorOptions()
    eager = [extract_triples_one(_materialized(s), options=options) for s in p.parse_lazy_batch(texts)]
    lazy = [extract_triples_one(s, options=options) for s in p.parse_lazy_batch(texts)]
    assert eager == lazy
    assert any(eager)


def _conjuncts_of(i, dep, head):
    """spaCy's Token.conjuncts over the rows: ascend conj edges to the
    chain head, then every token reachable through conj children."""
    root = i
    while dep[root] == "conj" and head[root] != root:
        root = head[root]
    chain, frontier = {root}, [root]
    while frontier:
        x = frontier.pop()
        for c in range(len(head)):
            if head[c] == x and c != x and dep[c] == "conj" and c not in chain:
                chain.add(c)
                frontier.append(c)
    return sorted(chain - {i})


def test_lazy_sentence_surface():
    """The Token surface against the rows themselves: fields, head,
    children (index order, no self-loops), conjuncts; a token is built
    only when touched."""
    for rows in _tree_rows(seed=9, n=300):
        sent = Sentence.from_rows(rows)
        n = len(rows)
        assert len(sent) == n
        assert sent.tokens == [None] * n
        if n:
            assert sent[-1].i == n - 1 and sent[-1] is sent[n - 1]
            assert sent.tokens[: n - 1] == [None] * (n - 1)
        dep = [r[4] for r in rows]
        head = [r[5] for r in rows]
        for k, t in enumerate(sent):
            assert (t.i, t.text, t.lemma_, t.pos, t.dep, t.head_i) == rows[k]
            assert t.head.i == head[k] and t.head is sent[head[k]]
            want = [c for c in range(n) if head[c] == k and c != k]
            assert [c.i for c in t.children] == want
            assert sorted(c.i for c in t.conjuncts) == _conjuncts_of(k, dep, head)
        assert [list(k) for k in sent.arrays()[5]] == [
            [c for c in range(n) if head[c] == k and c != k] for k in range(n)
        ]
