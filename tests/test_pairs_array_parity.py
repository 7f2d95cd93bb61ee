"""The pair extractors' inputs: provider parity, and hand-built trees.

The Spark operators run the array extractors of kernel/pairs.py on the
provider's direct array parse (``parse_arrays_batch``); the goldens
(tests/goldens/kernel.jsonl) pin them on ``sentence_arrays`` of the
differential corpora. This suite pins (a) that the direct array parse
equals ``sentence_arrays`` of the object parse, on the svo corpus (its own
no-Sentence parse) and on the template provider (the base-class
conversion), and (b) the extractors' rows on hand-built trees exercising
every negation branch the corpora never hit (neg children, neg-det
subjects, ccomp/xcomp parent inheritance, the dead 'failed to' branch, AUX
heads, upper casing, lemmatize).
"""

import duckdb
import pytest

from posextract_spark.kernel.model import Sentence
from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays
from posextract_spark.parse.provider import get_provider, sentence_arrays


def _assert_provider_parity(provider, texts):
    want = [sentence_arrays(s) for s in provider.parse_batch(texts)]
    assert provider.parse_arrays_batch(texts) == want


def test_svo_corpus_parity_direct_arrays():
    texts = (
        duckdb.sql("SELECT text FROM '/root/testdata/sf0.01/documents.parquet'")
        .df()["text"]
        .tolist()
    )
    _assert_provider_parity(get_provider("svo"), texts)


def test_template_provider_parity_default_conversion():
    p = get_provider("template")
    texts = [
        "The fast server did not merge the small table.",
        "Alice never sorted records. Bob filtered no rows quickly.",
        "A big query joined the index and the cache.",
    ]
    _assert_provider_parity(p, texts)


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


OPTION_SETS = [{}, {"letter_case": "upper"}, {"lemmatize": True}]

# (adj-noun rows, subj-verb rows) per (tree, option set), as the object
# kernel (adj_noun_pairs_one / subj_verb_pairs_one, since deleted) gave
# them at commit 7facc11, where they equalled the array extractors. They
# are that kernel's output, not certified against the reference: the
# pairs differential never saw these trees.
EXPECTED = {
    (0, 0): ([("never", "", "big", "table")], [("rows", "never", "merge")]),
    (0, 1): ([("NEVER", "", "BIG", "TABLE")], [("ROWS", "never", "MERGE")]),
    (0, 2): ([("never", "", "big_L", "table_L")], [("rows_L", "never", "merge_L")]),
    (1, 0): ([], [("alice", "not", "said"), ("bob", "not", "ran")]),
    (1, 1): ([], [("ALICE", "not", "SAID"), ("BOB", "not", "RAN")]),
    (1, 2): ([], [("alice_L", "not", "said_L"), ("bob_L", "not", "ran_L")]),
    (2, 0): ([], [("he", "not", "failed"), ("they", "", "win")]),
    (2, 1): ([], [("HE", "not", "FAILED"), ("THEY", "", "WIN")]),
    (2, 2): ([], [("he_L", "not", "failed_L"), ("they_L", "", "win_L")]),
    (3, 0): ([("not", "", "fast", "disk")], []),
    (3, 1): ([("NOT", "", "FAST", "DISK")], []),
    (3, 2): ([("not", "", "fast_L", "disk_L")], []),
    (4, 0): ([("", "", "slow", "shard")], [("ops", "", "rotated")]),
    (4, 1): ([("", "", "SLOW", "SHARD")], [("OPS", "", "ROTATED")]),
    (4, 2): ([("", "", "slow_L", "shard_L")], [("ops_L", "", "rotated_L")]),
    (5, 0): ([], []),
    (5, 1): ([], []),
    (5, 2): ([], []),
}


@pytest.mark.parametrize("sent", ADVERSARIAL_TREES)
@pytest.mark.parametrize("kw", OPTION_SETS)
def test_adversarial_negation_tree_parity(sent, kw):
    arr = sentence_arrays(sent)
    adj, sv = EXPECTED[(ADVERSARIAL_TREES.index(sent), OPTION_SETS.index(kw))]
    assert [tuple(d.values()) for d in adj_noun_pairs_arrays(arr, **kw)] == adj
    assert [tuple(d.values()) for d in subj_verb_pairs_arrays(arr, **kw)] == sv
