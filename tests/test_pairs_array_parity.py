"""The pair extractors' inputs: the providers' parse arrays, and
hand-built trees.

The Spark operators run the array extractors of kernel/pairs.py on the
provider's parse arrays (``parse_arrays_batch``); the goldens
(tests/goldens/kernel.jsonl) pin them on the differential corpora. This
suite pins (a) that the arrays are well formed: ``kid_idx`` is the child
index recomputed from ``head`` on the svo corpus and on the template
provider, and the template arrays are its builders' rows (svo's arrays for
text no template matches), and (b) the extractors' rows on hand-built
trees exercising every negation branch the corpora never hit (neg
children, neg-det subjects, ccomp/xcomp parent inheritance, the dead
'failed to' branch, AUX heads, upper casing, lemmatize).
"""

import duckdb
import pytest

from posextract_spark.kernel.model import kid_index
from posextract_spark.kernel.pairs import adj_noun_pairs_arrays, subj_verb_pairs_arrays
from posextract_spark.parse.provider import get_provider
from posextract_spark.parse.template import TEMPLATES


def _assert_well_formed(arrays):
    words, lemmas, pos, dep, head, kid_idx = arrays
    n = len(words)
    assert len(lemmas) == len(pos) == len(dep) == len(head) == len(kid_idx) == n
    assert all(0 <= h < n for h in head)
    assert [list(k) for k in kid_idx] == [
        [c for c, h in enumerate(head) if h == p and c != p] for p in range(n)
    ]


def test_svo_corpus_kid_idx_matches_head():
    texts = (
        duckdb.sql("SELECT text FROM '/root/testdata/sf0.01/documents.parquet'")
        .df()["text"]
        .tolist()
    )
    p = get_provider("svo")
    parsed = p.parse_arrays_batch(texts)
    assert len(parsed) == len(texts)
    for text, arrays in zip(texts, parsed):
        assert arrays[0] == arrays[1] == text.split()
        _assert_well_formed(arrays)


TEMPLATE_TEXTS = [
    "Acme acquired Zorin.",
    "Acme acquired Zorin",
    "Acme did not acquire Zorin.",
    "Acme invested in Zorin.",
    "Acme was profitable.",
    "Acme was very profitable.",
    "Acme acquired factories, and mines, and railways.",
    "Acme bought mines and sold railways.",
    "The tycoon who owned Acme retired.",
    "Acme wanted to acquire Zorin.",
    "Acme said Zorin acquired Initech.",
    "Zorin Holdings gave up the lawsuit.",
    "Acme said ",
    "quickly.",
]
FALLBACK_TEXT = "A big query joined the index and the cache."


def test_template_arrays_match_rows():
    p = get_provider("template")
    texts = TEMPLATE_TEXTS + [FALLBACK_TEXT]
    parsed = p.parse_arrays_batch(texts)
    assert len(parsed) == len(texts)
    used = set()
    for text, arrays in zip(texts, parsed):
        _assert_well_formed(arrays)
        hit = [(name, m, build) for name, pat, build in TEMPLATES if (m := pat.match(text))]
        if text == FALLBACK_TEXT:
            assert not hit
            assert arrays == get_provider("svo").parse_arrays_batch([text])[0]
            continue
        name, m, build = hit[0]
        used.add(name)
        rows = build(m)
        assert [tuple(r) for r in zip(*arrays[:5])] == rows, text
    assert used == {name for name, _, _ in TEMPLATES}


def _tree(rows):
    """The parse arrays of rows (text, pos, dep, head_i); lemma = text + '_L'."""
    words = [r[0] for r in rows]
    head = [r[3] for r in rows]
    return (
        words,
        [w + "_L" for w in words],
        [r[1] for r in rows],
        [r[2] for r in rows],
        head,
        kid_index(head),
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
    adj, sv = EXPECTED[(ADVERSARIAL_TREES.index(sent), OPTION_SETS.index(kw))]
    assert [tuple(d.values()) for d in adj_noun_pairs_arrays(sent, **kw)] == adj
    assert [tuple(d.values()) for d in subj_verb_pairs_arrays(sent, **kw)] == sv
