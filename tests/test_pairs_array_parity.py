"""Row-for-row parity: array-native pair extractors vs the object kernel.

The object versions (adj_noun_pairs_one / subj_verb_pairs_one) are the
reference transcription, proven against the actual reference code by the
pairs differential (tools/differential.py, 1018/1018 + 407/407 exact).
The array versions (kernel/pairs.py) are what the Spark operators run.
This suite pins them equal on: (a) the svo corpus via the provider's
DIRECT array parse (no Sentence ever built), (b) the template provider
via the base-class object->array conversion, and (c) hand-built trees
exercising every negation branch the corpora never hit (neg children,
neg-det subjects, ccomp/xcomp parent inheritance, the dead 'failed to'
branch, AUX heads, upper/lower casing, lemmatize).
"""

import duckdb
import pytest

from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.pairs import (
    adj_noun_pairs_arrays,
    adj_noun_pairs_one,
    subj_verb_pairs_arrays,
    subj_verb_pairs_one,
)
from posextract_spark.parse.provider import ParseProvider, get_provider, sentence_arrays


def _assert_corpus_parity(provider, texts, **kw):
    sents = provider.parse_batch(texts)
    arrays = provider.parse_arrays_batch(texts)
    assert len(sents) == len(arrays)
    for sent, arr in zip(sents, arrays):
        assert adj_noun_pairs_one(sent, **kw) == adj_noun_pairs_arrays(arr, **kw)
        assert subj_verb_pairs_one(sent, **kw) == subj_verb_pairs_arrays(arr, **kw)


def test_svo_corpus_parity_direct_arrays():
    texts = (
        duckdb.sql("SELECT text FROM '/root/testdata/sf0.01/documents.parquet'")
        .df()["text"]
        .tolist()
    )
    p = get_provider("svo")
    for kw in ({}, {"letter_case": "upper"}, {"lemmatize": True, "letter_case": "lower"}):
        _assert_corpus_parity(p, texts, **kw)


def test_template_provider_parity_default_conversion():
    p = get_provider("template")
    texts = [
        "The fast server did not merge the small table.",
        "Alice never sorted records. Bob filtered no rows quickly.",
        "A big query joined the index and the cache.",
    ]
    _assert_corpus_parity(p, texts)


def _tree(rows):
    """rows: (text, pos, dep, head_i); lemma = text + '_L'."""
    words = [r[0] for r in rows]
    return Sentence.from_arrays(
        words,
        [w + "_L" for w in words],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [r[3] for r in rows],
    )


ADVERSARIAL_TREES = [
    # neg child on the verb + neg-det on the subject noun + ADJ->NOUN
    _tree([
        ("rows", "NOUN", "nsubj", 2),     # 0
        ("not", "DET", "det", 0),         # 1  neg-det on subject
        ("merge", "VERB", "ROOT", 2),     # 2
        ("never", "ADV", "neg", 2),       # 3  neg child of verb
        ("big", "ADJ", "amod", 5),        # 4
        ("table", "NOUN", "dobj", 2),     # 5
    ]),
    # ccomp parent-inheritance: child verb has no own neg, parent does
    _tree([
        ("alice", "NOUN", "nsubj", 1),    # 0
        ("said", "VERB", "ROOT", 1),      # 1
        ("not", "ADV", "neg", 1),         # 2
        ("bob", "NOUN", "nsubj", 4),      # 3
        ("ran", "VERB", "ccomp", 1),      # 4
    ]),
    # dead 'failed to X' branch: xcomp under 'failed' must NOT inherit
    _tree([
        ("he", "NOUN", "nsubj", 1),       # 0
        ("failed", "VERB", "ROOT", 1),    # 1
        ("not", "ADV", "neg", 1),         # 2
        ("to", "PART", "aux", 4),         # 3
        ("win", "VERB", "xcomp", 1),      # 4
        ("it", "NOUN", "dobj", 4),        # 5  gives 'win' a subject? no — object
        ("they", "NOUN", "nsubj", 4),     # 6  subject child for 'win'
    ]),
    # AUX head of the pair noun + neg child on the AUX
    _tree([
        ("fast", "ADJ", "amod", 1),       # 0
        ("disk", "NOUN", "nsubj", 2),     # 1
        ("is", "AUX", "ROOT", 2),         # 2
        ("not", "ADV", "neg", 2),         # 3
    ]),
    # nsubjpass via the verb's HEAD + last-child-wins double subject
    _tree([
        ("logs", "NOUN", "nsubjpass", 1), # 0
        ("rotated", "VERB", "ROOT", 1),   # 1
        ("ops", "NOUN", "nsubj", 1),      # 2  last child wins
        ("slow", "ADJ", "amod", 4),       # 3
        ("shard", "NOUN", "dobj", 1),     # 4
    ]),
    # subjectless verb: crash->skip semantics
    _tree([
        ("sort", "VERB", "ROOT", 0),      # 0
        ("rows", "NOUN", "dobj", 0),      # 1
    ]),
]


@pytest.mark.parametrize("sent", ADVERSARIAL_TREES)
@pytest.mark.parametrize("kw", [{}, {"letter_case": "upper"}, {"lemmatize": True}])
def test_adversarial_negation_tree_parity(sent, kw):
    arr = sentence_arrays(sent)
    assert adj_noun_pairs_one(sent, **kw) == adj_noun_pairs_arrays(arr, **kw)
    assert subj_verb_pairs_one(sent, **kw) == subj_verb_pairs_arrays(arr, **kw)
