"""LazySentence must be observably identical to the eager Sentence.

The r8 lazy-materialization rewrite (model.LazySentence + the
parse_view/arrays-based traversal) may not change a single extracted
triple. Pinned three ways:

1. full-kernel parity: extract_triples_one over eager Sentence.from_rows
   vs LazySentence.from_parse on thousands of fuzz trees, across every
   option set — flattened dicts compared exactly;
2. SVO provider parity: parse_batch vs parse_lazy_batch over real corpus
   text (including empty/whitespace/multi-space edge docs);
3. index-based negation helpers vs the object transcriptions from
   negation.py on the same fuzz trees.
"""

import random

import pytest

from posextract_spark.kernel.extract import extract_triples_one
from posextract_spark.kernel.model import LazySentence, Sentence
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


def _lazy_from_rows(rows):
    words = [r[1] for r in rows]
    lemmas = [r[2] for r in rows]
    pos = [r[3] for r in rows]
    dep = [r[4] for r in rows]
    head = [int(r[5]) for r in rows]
    n = len(rows)
    kid_idx = [None] * n
    for i, hi in enumerate(head):
        if hi != i:
            k = kid_idx[hi]
            if k is None:
                kid_idx[hi] = [i]
            else:
                k.append(i)
    empty = ()
    for i in range(n):
        if kid_idx[i] is None:
            kid_idx[i] = empty
    return LazySentence.from_parse(words, lemmas, pos, dep, head, kid_idx)


@pytest.mark.parametrize("opts", OPTION_SETS, ids=[repr(o) for o in OPTION_SETS])
def test_extraction_identical_eager_vs_lazy(opts):
    options = TripleExtractorOptions(**opts)
    for rows in _tree_rows(seed=1234):
        eager = Sentence.from_rows(rows)
        lazy = _lazy_from_rows(rows)
        a = extract_triples_one(eager, options=options)
        b = extract_triples_one(lazy, options=options)
        assert a == b, f"divergence on tree {rows}"


def test_negation_index_helpers_match_object_forms():
    for rows in _tree_rows(seed=777, n=2000):
        sent = Sentence.from_rows(rows)
        words, pos, dep, head_idx, kid_idx = sent.parse_view()
        for t in sent.tokens:
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
    eager = [extract_triples_one(s, options=options) for s in p.parse_batch(texts)]
    lazy = [extract_triples_one(s, options=options) for s in p.parse_lazy_batch(texts)]
    assert eager == lazy


def test_lazy_sentence_surface():
    """Public Sentence surface parity: iteration, indexing, children,
    head, conjuncts."""
    for rows in _tree_rows(seed=9, n=300):
        eager = Sentence.from_rows(rows)
        lazy = _lazy_from_rows(rows)
        assert len(lazy) == len(eager)
        for te, tl in zip(eager, lazy):
            assert (te.i, te.text, te.lemma_, te.pos, te.dep, te.head_i) == (
                tl.i, tl.text, tl.lemma_, tl.pos, tl.dep, tl.head_i)
            assert te.head.i == tl.head.i
            assert [c.i for c in te.children] == [c.i for c in tl.children]
            assert sorted(c.i for c in te.conjuncts) == sorted(c.i for c in tl.conjuncts)
        # indexing materializes
        if len(eager):
            assert lazy[0].i == 0
